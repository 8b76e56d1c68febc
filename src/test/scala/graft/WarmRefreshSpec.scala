package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ParquetQueryCache

/** The fixed cost of a warm refresh: once a durable aggregate's first
  * warm append and first compaction have run, a refresh compiles no
  * class, and no refresh re-opens the footers of the state it wrote;
  * and the isolated-conf session that makes this possible (one reused
  * clone) behaves exactly like a fresh clone. */
class WarmRefreshSpec extends AnyFunSuite {
  import TestSparkSession._

  private val DayUs = 86400L * 1000000L
  private val StartUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  private val RowsPerDay = 2000L

  /** `days` days of rows from day `from`, ts rising with event_id */
  private def slice(from: Int, days: Int): DataFrame = {
    val lo = from * RowsPerDay
    spark.range(lo, lo + days * RowsPerDay).select(
      col("id").as("event_id"),
      timestamp_micros(lit(StartUs) + col("id") * (DayUs / RowsPerDay))
        .as("ts"),
      (pmod(col("id") * 7919L, lit(10000L)) / 100.0).as("value"))
  }

  private def query(t: DataFrame): DataFrame =
    t.groupBy(date_trunc("day", col("ts")).as("day"),
        expr("event_id DIV 64").as("ent"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(14,3)")).as("sv"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** count job starts during f (listener bus is async: poll to quiesce) */
  private def countJobs[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      var prev = -1; var cur = n.get(); var i = 0
      while (cur != prev && i < 30) {
        Thread.sleep(100); prev = cur; cur = n.get(); i += 1
      }
      (a, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  for ((suffix, bound) <- stateWritePaths)
  test("warm ParquetQueryCache refreshes compile nothing and read no footer " +
      "after the first append and the first compaction; the watermark " +
      "still reaches parquet pushdown" + suffix) {
    withDriverStateMaxBytes(bound)(warmRefreshes(bound.isEmpty))
  }

  /** six warm refreshes; `fromDriver`: small state is committed from the
    * driver (the default bound) rather than by a distributed write */
  private def warmRefreshes(fromDriver: Boolean): Unit = {
    val table = tmpDir("warm-table")
    val cacheDir = tmpDir("warm-cache")
    val cacheRoot = s"${OpenCountingFs.Scheme}://$cacheDir"
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${OpenCountingFs.Scheme}.impl", classOf[OpenCountingFs].getName)
    // a chain of 3: refreshes 0, 1, 3, 4 append a segment, 2 and 5 compact
    val cache = new ParquetQueryCache(cacheRoot, appendChainMax = 3)
    slice(0, 10).write.mode("overwrite").parquet(table)
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    /** one refresh (its plans recorded when `watch`), checked against
      * vanilla; returns the jobs the whole refresh launched and those its
      * answer launched */
    def refresh(nowUs: Long, watch: Boolean = false): (Int, Int) = {
      val q = query(spark.read.parquet(table))
      if (watch) spark.sparkContext.addSparkListener(listener)
      val ((got, answerJobs), jobs) = try countJobs {
        val answer = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = Some(nowUs))).run(q)
        countJobs(sorted(answer))
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(got == sorted(q))
      (jobs, answerJobs)
    }
    refresh(StartUs + 10 * DayUs) // cold priming
    val runs = (0 until 6).map { k =>
      slice(10 + k, 1).write.mode("append").parquet(table)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      OpenCountingFs.reset()
      val (jobs, answerJobs) =
        refresh(StartUs + (11 + k) * DayUs, watch = k == 4)
      // every refresh, the first warm one too: the chain's row counts
      // come from the writes, so no footer is opened on the driver
      assert(OpenCountingFs.driverOpens.get == 0,
        s"refresh $k re-read ${OpenCountingFs.driverOpens.get} footers")
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        answerJobs, jobs, OpenCountingFs.taskOpens.get)
    }
    val compiles = runs.map(_._1)
    // the first append and the first compaction compile their plans once
    assert(Seq(1, 3, 4, 5).forall(compiles(_) == 0),
      s"classes compiled per warm refresh: $compiles")
    // the warm delta scan (the plan that reads the table) still pushes
    // the watermark bound into the parquet scan
    def deltaScan: Option[String] = plans.asScala.find(_.contains(table))
    val deadline = System.currentTimeMillis() + 10000
    while (deltaScan.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50) // the listener bus delivers asynchronously
    val plan = deltaScan.getOrElse(fail(s"no plan reading $table: $plans"))
    assert(plan.split("\n").exists(
      _.matches("PushedFilters: \\[.*GreaterThanOrEqual\\(ts,.*")), plan)
    val answerJobs = runs.map(_._2)
    val jobs = runs.map(_._3)
    val stateOpens = runs.map(_._4)
    val writes = plans.asScala.exists(_.contains("InsertIntoHadoopFsRelationCommand"))
    val segments = new java.io.File(cacheDir).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("data-"))
    if (fromDriver) {
      // a small refresh commits from the driver: no file-write command,
      // one parquet file per segment
      assert(!writes, s"a small warm refresh planned a file write: $plans")
      assert(segments.nonEmpty && segments.forall(
        _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
        segments.map(d => d.getName -> d.list().toSeq).toSeq)
      // and merges on the driver: every answer, append or compaction,
      // comes from the merged rows without a Spark job; the first refresh
      // reads the stored state in its one collect, and every later one
      // holds it, so its one job is the delta's and it opens no cache file
      assert(answerJobs.forall(_ == 0), s"answers launched jobs: $answerJobs")
      assert(stateOpens(0) > 0, stateOpens)
      assert(jobs.tail.forall(_ == 1), s"jobs per refresh: $jobs")
      assert(stateOpens.tail.forall(_ == 0),
        s"cache files opened per refresh: $stateOpens")
    } else {
      assert(writes, s"no distributed segment write planned: $plans")
      // appends answer over the chain's files, and so do compactions
      assert(answerJobs.forall(_ > 0), answerJobs)
      assert(stateOpens.forall(_ > 0), stateOpens) // every refresh read state
    }
  }

  private val K = "spark.sql.shuffle.partitions"

  test("withIsolatedConf reuses one clone while the parent is unchanged; " +
      "overrides never reach the parent; distinct overrides, distinct clones") {
    val parent = spark.newSession()
    parent.conf.set(K, "3")
    val a = Shims.withIsolatedConf(parent, K -> "7")(identity)
    val b = Shims.withIsolatedConf(parent, K -> "7")(identity)
    assert(a eq b)
    assert(a.conf.get(K) == "7")
    assert(parent.conf.get(K) == "3")
    val c = Shims.withIsolatedConf(parent, K -> "9")(identity)
    assert(!(c eq a))
    assert(c.conf.get(K) == "9")
    assert(Shims.withIsolatedConf(parent, K -> "7")(identity) eq a)
    assert(parent.conf.get(K) == "3")
  }

  test("withIsolatedConf sees parent conf, temp views and tables as a fresh " +
      "clone would") {
    val parent = spark.newSession()
    val extra = "spark.sql.files.maxPartitionBytes"
    def iso[A](f: SparkSession => A): A =
      Shims.withIsolatedConf(parent, K -> "7")(f)
    iso(identity)
    // a conf set on the parent between two calls reaches the second
    parent.conf.set(extra, "12345")
    assert(iso(_.conf.get(extra)) == "12345")
    parent.conf.unset(extra)
    assert(iso(_.conf.getOption(extra)) != Some("12345"))
    // temp views registered, then replaced, after the first call
    parent.range(3).createOrReplaceTempView("graft_iso_v")
    assert(iso(_.table("graft_iso_v").count()) == 3)
    parent.range(5).createOrReplaceTempView("graft_iso_v")
    assert(iso(_.table("graft_iso_v").count()) == 5)
    // a caller that changes the clone does not leak into the next call
    iso(_.conf.set(extra, "777"))
    assert(iso(_.conf.getOption(extra)) != Some("777"))
    // a catalog table appended through the parent: the reused clone
    // re-resolves it (no stale file listing)
    val t = "graft_iso_table"
    parent.sql(s"DROP TABLE IF EXISTS $t")
    try {
      parent.range(3).write.saveAsTable(t)
      assert(iso(_.table(t).count()) == 3)
      parent.range(2).write.mode("append").saveAsTable(t)
      assert(iso(_.table(t).count()) == 5)
    } finally parent.sql(s"DROP TABLE IF EXISTS $t")
  }
}

/** The local file system under its own scheme, counting opens of parquet
  * files — on executor task threads (scans) apart from any other thread
  * (driver-side footer reads) — and of cache metas (`meta-<v>.json`). */
final class OpenCountingFs extends RawLocalFileSystem {
  override def getScheme: String = OpenCountingFs.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${OpenCountingFs.Scheme}:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet")) {
      if (Thread.currentThread.getName.startsWith("Executor task launch"))
        OpenCountingFs.taskOpens.incrementAndGet()
      else OpenCountingFs.driverOpens.incrementAndGet()
    } else if (f.getName.startsWith("meta-") && f.getName.endsWith(".json"))
      OpenCountingFs.metaOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val Scheme = "opencount"
  val driverOpens = new AtomicLong
  val taskOpens = new AtomicLong
  val metaOpens = new AtomicLong
  def reset(): Unit = { driverOpens.set(0); taskOpens.set(0); metaOpens.set(0) }
}
