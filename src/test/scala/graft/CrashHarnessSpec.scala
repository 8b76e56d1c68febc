package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ParquetQueryCache
import graft.operators.{IncrementalDedup, IncrementalText}
import graft.sources.Tables

/** Crash harness for every durable commit protocol: each durable
  * mutation is interrupted at each of its file-system operations in
  * turn, and what the structure answers afterwards is checked.
  *
  * For a protocol, a fixture is built once; each run below works on a
  * copy of it. The un-crashed run counts the mutation's mutating
  * operations (create / rename / delete / mkdirs) under the structure's
  * directory. Then for every N in 1..count, the mutation runs with the
  * N-th operation failing (an IOException, once, on whatever thread
  * issues it), and two views of the crashed directory are checked: the
  * same session continuing, and a restarted process (a copy of the
  * directory at a new path: no catalog table, no cache instance, no
  * resident state). Crash points that leave the same directory tree
  * (file names with their random parts masked, Spark's `_temporary`
  * staging ignored) share one check, and a failing create, mkdirs or
  * delete inside a write's `_temporary` staging (which a failed job
  * aborts) is not re-run: its outcome is that of the write failing. Each view must answer as the
  * un-crashed structure does before or after the mutation, then run the
  * protocol's next mutation and answer as the reference does after it.
  * A view that throws has failed loudly, which is allowed; a different
  * answer is not. Each view's pure read (a `get`, a scoring query, a
  * cluster resolution, an index size) must issue no mutating operation
  * at all. */
class CrashHarnessSpec extends AnyFunSuite {
  import TestSparkSession._

  spark.sparkContext.hadoopConfiguration.set(
    s"fs.${CrashingFs.Scheme}.impl", classOf[CrashingFs].getName)

  /** One structure at one directory, with its fixture built: `check`
    * answers, `read` is a pure read (no mutating operation allowed), and
    * `next` is the following mutation — false when there is none besides
    * `check` itself (a dedup index answers by deduping a probe batch). */
  private trait Run {
    def mutate(): Unit
    def check(): Seq[String]
    def read(): Unit
    def next(): Boolean
  }

  /** `open(dir, fresh)`: the structure at `dir` — with its fixture built
    * when `fresh`, else reopened as a restarted process would */
  private final case class Protocol(name: String,
      open: (String, Boolean) => Run)

  private def newDir(tag: String): String =
    s"${tmpDir(s"crash-${tag.replaceAll("[^A-Za-z0-9-]", "")}")}/s"

  /** a copy of the fixture directory tree of `fixture` (the structure's
    * dir `s` and whatever sits next to it) at a new structure dir */
  private def copyOf(fixture: String, tag: String): String = {
    val d = newDir(tag)
    copyTree(new Path(fixture).getParent.toString,
      new Path(d).getParent.toString)
    d
  }

  /** the answers the un-crashed structure gives: before and after the
    * mutation, each followed by the next mutation's */
  private def reference(p: Protocol, fixture: String)
      : (Set[Seq[String]], Set[Seq[String]], Seq[String]) = {
    val before = p.open(CrashingFs.uri(copyOf(fixture, p.name)), false)
    val b1 = before.check()
    val b2 = if (before.next()) before.check() else Nil
    val d = copyOf(fixture, p.name)
    val after = p.open(CrashingFs.uri(d), false)
    CrashingFs.arm(d, 0L)
    after.mutate()
    val ops = CrashingFs.log.asScala.toSeq
      .map(_.replace(new Path(d).getParent.toString, ""))
    CrashingFs.disarm()
    val a1 = after.check()
    val a2 = if (after.next()) after.check() else Nil
    (Set(b1, a1), Set(b2, a2), ops)
  }

  /** check one view: "ok" when it answers as the reference does, else
    * what went wrong ("loud: …" when it threw) */
  private def view(p: Protocol, r: => Run, local: String,
      first: Set[Seq[String]], then: Set[Seq[String]]): String =
    try {
      val run = r
      CrashingFs.arm(local, 0L)
      run.read()
      val reads = CrashingFs.ops.get
      CrashingFs.disarm()
      val a1 = run.check()
      val a2 = if (run.next()) run.check() else Nil
      if (reads > 0) s"read issued $reads mutating ops"
      else if (!first.contains(a1)) s"WRONG answer $a1"
      else if (!then.contains(a2)) s"WRONG answer after next $a2"
      else "ok"
    } catch {
      case e: Throwable =>
        CrashingFs.disarm()
        s"loud: ${e.getClass.getSimpleName}"
    }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    if (java.nio.file.Files.exists(src))
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
  }

  /** the directory tree under `dir`, random name parts masked */
  private def tree(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val masked = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}|[0-9a-f]{8,}".r
    java.nio.file.Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString)
      .filterNot(n => n.contains("_temporary") || n.endsWith(".crc") ||
        n.endsWith("_SUCCESS"))
      .map(masked.replaceAllIn(_, "*")).toSeq.sorted
  }

  /** every crash point of `p`: (N, same-session outcome, restarted),
    * with the un-crashed run's operations */
  private def crashPoints(p: Protocol)
      : (Seq[(Int, String, String)], Seq[String]) = {
    val fixture = newDir(p.name)
    p.open(CrashingFs.uri(fixture), true)
    val (first, then, ops) = reference(p, fixture)
    assert(ops.nonEmpty, s"${p.name}: the mutation issued no operation")
    val seen = scala.collection.mutable.Map.empty[Seq[String], (Int, String, String)]
    ((1 to ops.size).map { n =>
      if (ops(n - 1).contains("/_temporary/") &&
          !ops(n - 1).startsWith("rename")) (n, "staging, not re-run", "staging, not re-run")
      else {
      val d = copyOf(fixture, p.name)
      val run = p.open(CrashingFs.uri(d), false)
      CrashingFs.arm(d, n.toLong)
      try run.mutate() catch { case _: Throwable => () }
      CrashingFs.disarm()
      val state = tree(new Path(d).getParent.toString)
      seen.get(state) match {
        case Some((k, a, b)) => (n, s"$a (as op $k)", s"$b (as op $k)")
        case None =>
          val d2 = copyOf(d, p.name + "-restart")
          val out = (n, view(p, run, d, first, then),
            view(p, p.open(CrashingFs.uri(d2), false), d2, first, then))
          seen(state) = out
          out
      }
      }
    }, ops)
  }

  private def harness(p: Protocol): Unit = withShufflePartitions {
    val (points, ops) = crashPoints(p)
    points.foreach { case (n, a, b) =>
      info(s"${p.name} op $n (${ops(n - 1)}): $a | $b") }
    val wrong = points.filter { case (_, a, b) =>
      !ok(a) || !ok(b) }
    assert(wrong.isEmpty, s"${p.name}: ${wrong.mkString("; ")}")
  }

  private def ok(outcome: String): Boolean =
    outcome.startsWith("ok") || outcome.startsWith("loud") ||
      outcome.startsWith("staging")

  /** one-partition fixtures: every write is one task (a bucketed one,
    * one per bucket: two) */
  private def withShufflePartitions[A](f: => A): A = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try f finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  // ------------------------------------------------------------ fixtures

  private lazy val docs: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text")).coalesce(1).localCheckpoint()

  private def ids(df: DataFrame, c: String): Seq[String] =
    df.select(col(c).cast("string")).collect().map(_.getString(0)).toSeq.sorted

  private def nearRun(threshold: Long): (String, Boolean) => Run =
    (dir, fresh) => {
      def append(df: DataFrame): DataFrame = IncrementalDedup
        .nearDedupAppend(spark, dir, df, 0.5, indexBuckets = 2,
          bucketReadThresholdBytes = threshold)
      if (fresh) {
        append(docs.filter(col("doc_id") < 30)).collect()
        // a re-sent batch: every index row twice, for compaction to drop
        append(docs.filter(col("doc_id") < 30)).collect()
      }
      new Run {
        def mutate(): Unit =
          IncrementalDedup.compactIndex(spark, dir)
        def check(): Seq[String] = ids(append(docs.filter(col("doc_id") >= 20)
          .withColumn("doc_id", col("doc_id") + 1000L)), "doc_id")
        def read(): Unit = ()
        def next(): Boolean = false
      }
    }

  private val nearPlainCompaction =
    Protocol("near-compact-plain", nearRun(Long.MaxValue))
  private val nearBucketedCompaction =
    Protocol("near-compact-bucketed", nearRun(0L))

  private val nearPromotion = Protocol("near-promote",
    (dir, fresh) => {
      def append(df: DataFrame, t: Long): DataFrame = IncrementalDedup
        .nearDedupAppend(spark, dir, df, 0.5, indexBuckets = 2,
          bucketReadThresholdBytes = t)
      if (fresh) append(docs.filter(col("doc_id") < 30), Long.MaxValue).collect()
      new Run {
        // an empty batch over the gate: the promotion alone
        def mutate(): Unit = append(docs.limit(0), 0L).collect()
        def check(): Seq[String] = ids(append(docs.filter(col("doc_id") >= 20)
          .withColumn("doc_id", col("doc_id") + 1000L), 0L), "doc_id")
        def read(): Unit = ()
        def next(): Boolean = false
      }
    })

  private lazy val vecs: DataFrame =
    Tables.embeddings(spark, sf0001).filter(col("vec_id") < 60)
      .select(col("vec_id"), col("embedding")).coalesce(1).localCheckpoint()

  private val ivfRefresh = Protocol("ivf-refresh",
    (dir, fresh) => {
      def append(df: DataFrame): DataFrame = IncrementalDedup
        .embedDedupAppend(spark, dir, df, threshold = 0.4, cells = 4,
          sampleN = 64, iters = 2)
      if (fresh) {
        append(vecs.filter(col("vec_id") < 20)).collect()
        append(vecs.filter(col("vec_id") >= 20 && col("vec_id") < 40)).collect()
      }
      new Run {
        def mutate(): Unit = IncrementalDedup.compactIndex(spark, dir,
          refreshIvfModel = true, refreshSampleN = 64, refreshIters = 2,
          refreshSeed = 7L)
        def check(): Seq[String] = ids(append(vecs.filter(col("vec_id") >= 10)
          .withColumn("vec_id", col("vec_id") + 1000L)), "vec_id")
        def read(): Unit = ()
        def next(): Boolean = false
      }
    })

  private val labelsFold = Protocol("labels-fold",
    (dir, fresh) => {
      import spark.implicits._
      def append(ps: Seq[(Long, Long)]): Unit =
        IncrementalDedup.clusterAppend(spark, dir, ps.toDF("id_a", "id_b"))
      if (fresh) {
        append(Seq((1L, 2L), (3L, 4L), (5L, 6L)))
        append(Seq((2L, 3L), (7L, 8L)))
      }
      new Run {
        def mutate(): Unit = IncrementalDedup.compactIndex(spark, dir)
        def check(): Seq[String] = IncrementalDedup.resolvedClusters(spark, dir)
          .collect().map(_.toString).toSeq.sorted
        def read(): Unit = { check(); () }
        def next(): Boolean = { append(Seq((4L, 5L), (8L, 9L))); true }
      }
    })

  private val dedupRemove = Protocol("dedup-remove",
    (dir, fresh) => {
      if (fresh) {
        IncrementalDedup.indexInit(docs.filter(col("doc_id") < 30), dir)
          .collect()
        IncrementalDedup.dedupAppend(spark, dir,
          docs.filter(col("doc_id") >= 30)).collect()
      }
      new Run {
        def mutate(): Unit = IncrementalDedup.dedupRemove(spark, dir,
          docs.filter(col("doc_id") % 3 === 0))
        def check(): Seq[String] =
          Seq(IncrementalDedup.indexSize(spark, dir).toString)
        def read(): Unit = { check(); () }
        def next(): Boolean = {
          IncrementalDedup.dedupAppend(spark, dir,
            docs.withColumn("doc_id", col("doc_id") + 1000L)).collect()
          true
        }
      }
    })

  private def bm25Run(mutation: String => Unit, next0: String => Unit,
      setup: String => Unit): (String, Boolean) => Run =
    (dir, fresh) => {
      if (fresh) setup(dir)
      new Run {
        def mutate(): Unit = mutation(dir)
        def check(): Seq[String] =
          IncrementalText.bm25FromIndex(spark, dir, Seq("the", "of", "data"),
            topK = 10)
            .collect().map(r => f"${r.get(0)}:${r.getDouble(1)}%.9f").toSeq
        def read(): Unit = { check(); () }
        def next(): Boolean = { next0(dir); true }
      }
    }

  private def bm25Docs(lo: Long, hi: Long): DataFrame =
    docs.filter(col("doc_id") >= lo && col("doc_id") < hi)

  private val bm25Compaction = Protocol("bm25-compact",
    bm25Run(
      dir => IncrementalText.compactIndex(spark, dir, partitions = 1),
      dir => IncrementalText.bm25Append(spark, dir, bm25Docs(40, 60)),
      dir => {
        IncrementalText.bm25Append(spark, dir, bm25Docs(0, 20))
        IncrementalText.bm25Append(spark, dir, bm25Docs(20, 40))
        IncrementalText.bm25Delete(spark, dir,
          bm25Docs(0, 40).filter(col("doc_id") % 4 === 0))
      }))

  private val bm25Append = Protocol("bm25-append",
    bm25Run(
      dir => IncrementalText.bm25Append(spark, dir, bm25Docs(20, 40)),
      dir => IncrementalText.bm25Upsert(spark, dir,
        bm25Docs(30, 60).withColumn("text", concat(col("text"), lit(" data")))),
      dir => IncrementalText.bm25Append(spark, dir, bm25Docs(0, 20))))

  // ParquetQueryCache: a durable day x entity aggregate over a table that
  // grows one day at a time, next to the cache root. Whatever the crash
  // left, the cached answer must equal vanilla (the reference answer at
  // every point), and a pure read is the state `get` resolves.

  private val DayUs = 86400L * 1000000L
  private val StartUs = 1704067200L * 1000000L
  private val RowsPerDay = 200L

  private def cacheRun(append: Boolean, bound: Option[Long])
      : (String, Boolean) => Run = (dir, fresh) => {
    val table = new Path(new java.net.URI(dir).getPath).getParent + "/table"
    def slice(day: Long): Unit = {
      val lo = day * RowsPerDay
      spark.range(lo, lo + RowsPerDay).select(
          col("id").as("event_id"),
          timestamp_micros(lit(StartUs) + col("id") * (DayUs / RowsPerDay))
            .as("ts"),
          (pmod(col("id") * 7919L, lit(10000L)) / 100.0).as("value"))
        .coalesce(1).write.mode("append").parquet(table)
    }
    val cache = new ParquetQueryCache(dir)
    def days(): Long = spark.read.parquet(table).count() / RowsPerDay
    def check0(): Seq[String] = withDriverStateMaxBytes(bound) {
      val q = spark.read.parquet(table)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          expr("event_id DIV 64").as("ent"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(14,3)")).as("sv"))
      val got = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts",
          overrideNowMicros = Some(StartUs + days() * DayUs)))
        .run(q).collect().map(_.toString).toSeq.sorted
      val want = q.collect().map(_.toString).toSeq.sorted
      if (got == want) Seq("equal to vanilla") else got
    }
    if (fresh) {
      (0L until 3L).foreach(slice)
      if (append) { check0(); slice(3L) }
    }
    new Run {
      def mutate(): Unit = { check0(); () }
      def check(): Seq[String] = check0()
      def read(): Unit = cache.describe(spark).select("fingerprint")
        .collect().map(_.getString(0))
        .foreach(fp => cache.get(fp).foreach(_.read(spark).collect()))
      def next(): Boolean = { slice(days()); true }
    }
  }

  private def cacheProtocols: Seq[Protocol] = for {
    (suffix, bound) <- stateWritePaths
    append <- Seq(false, true)
  } yield Protocol(s"cache-${if (append) "putAppend" else "put"}$suffix",
    cacheRun(append, bound))

  private val protocols: Seq[Protocol] = Seq(nearPlainCompaction,
    nearBucketedCompaction, nearPromotion, ivfRefresh, labelsFold,
    dedupRemove, bm25Compaction, bm25Append)

  for (p <- protocols)
    test(s"a crash at any operation of ${p.name} never gives a wrong answer") {
      harness(p)
    }

  for (p <- cacheProtocols)
    test(s"a crash at any operation of ${p.name} never gives a wrong answer") {
      harness(p)
    }
}

/** The local file system under its own scheme, failing the N-th
  * mutating operation (create / rename / delete / mkdirs) under one
  * directory, once, on any thread, and counting them. The writer
  * lease, a sibling of an index directory, is not counted. */
final class CrashingFs extends RawLocalFileSystem {
  override def getScheme: String = CrashingFs.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${CrashingFs.Scheme}:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashingFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashingFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // statuses without the permission lookup, which RawLocalFileSystem can
  // only do for a "file" URI (a recursive listFiles asks for it)
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(s => new org.apache.hadoop.fs.FileStatus(s.getLen,
      s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getPath))

  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashingFs.step("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CrashingFs.step("mkdirs", p)
    super.mkdirs(p, permission)
  }

  override def mkdirs(p: Path): Boolean = {
    CrashingFs.step("mkdirs", p)
    super.mkdirs(p)
  }
}

object CrashingFs {
  val Scheme = "crashfs"
  val ops = new AtomicLong
  /** the counted operations, in order: `<kind> <path>` */
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]
  @volatile private var root = ""
  @volatile private var crashAt = 0L

  def uri(local: String): String = s"$Scheme://$local"

  /** count operations under `local` from now; fail the `at`-th (0: none) */
  def arm(local: String, at: Long): Unit = {
    ops.set(0); log.clear(); crashAt = at; root = local
  }

  def disarm(): Unit = { root = ""; crashAt = 0L }

  private[graft] def step(kind: String, p: Path): Unit = {
    val s = p.toUri.getPath
    val r = root
    if (r.nonEmpty && (s == r || s.startsWith(r + "/") ||
        s.startsWith(r + "_")) && !s.contains(".writer.lease")) {
      val n = ops.incrementAndGet()
      log.add(s"$kind $s")
      if (n == crashAt)
        throw new java.io.IOException(s"injected crash at operation $n on $s")
    }
  }
}
