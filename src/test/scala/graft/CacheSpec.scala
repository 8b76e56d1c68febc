package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.{CacheCapacityExceeded, MemoryQueryCache, ParquetQueryCache}
import graft.sources.Tables

/** Cache SPI contract (reference src/cache.rs): vacant miss, occupied
  * hit, overwrite-on-put, replay fidelity, invalidate — for both the
  * in-memory and the durable parquet store. */
class CacheSpec extends AnyFunSuite {
  import TestSparkSession._

  private def stateDF = Tables.events(spark, sf0001)
    .groupBy(col("event_type").as("_g0"))
    .agg(count(lit(1)).as("_s0_cnt"), sum("value").as("_s1_sum"))

  private def roundTrip(cache: graft.cache.QueryCache): Unit = {
    assert(cache.get("fp1").isEmpty) // vacant
    val df = stateDF
    val expect = df.collect().map(_.toString).sorted.toSeq
    val stored = cache.put("fp1", 1000L, df)
    assert(stored.collect().map(_.toString).sorted.toSeq == expect)
    val hit = cache.get("fp1").get
    assert(hit.timestampMicros == 1000L)
    assert(hit.read(spark).collect().map(_.toString).sorted.toSeq == expect)
    assert(hit.schema.fieldNames.toSeq == Seq("_g0", "_s0_cnt", "_s1_sum"))
    // overwrite (reference src/cache.rs:109-114)
    cache.put("fp1", 2000L, df.limit(1))
    val hit2 = cache.get("fp1").get
    assert(hit2.timestampMicros == 2000L)
    assert(hit2.read(spark).count() == 1)
    cache.invalidate("fp1")
    assert(cache.get("fp1").isEmpty)
  }

  /** a ParquetQueryCache test, registered once per state-write path */
  private def pqTest(name: String)(body: => Unit): Unit =
    stateWritePaths.foreach { case (suffix, bound) =>
      test(name + suffix)(withDriverStateMaxBytes(bound)(body))
    }

  test("MemoryQueryCache contract")(roundTrip(new MemoryQueryCache()))

  pqTest("ParquetQueryCache contract")(
    roundTrip(new ParquetQueryCache(tmpDir("pqcache"))))

  pqTest("ParquetQueryCache putAppend chains delta segments, compacts at the cap") {
    import spark.implicits._
    val dir = tmpDir("pq-append")
    val c = new ParquetQueryCache(dir, appendChainMax = 3, graceMs = 0L)
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "s")
    def segs(): Int = {
      val root = new java.io.File(dir)
      val entry = root.listFiles().filter(_.isDirectory).head
      val metas = entry.listFiles().map(_.getName)
        .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
      val head = metas.maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
      val json = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(entry, head).toPath))
      // head dataDir + newline-separated extraDataDirs
      1 + json.split("\"extraDataDirs\":\"").last.takeWhile(_ != '"')
        .split("\\\\n").count(_.nonEmpty)
    }
    def base() = c.get("fp").get
    // memory caches don't support appends — the default declines
    val mem = new MemoryQueryCache()
    mem.put("x", 0L, rows(0 until 1))
    assert(mem.putAppend("x", 1L, mem.get("x").get, rows(1 until 2)).isEmpty)
    // vacant entry: putAppend declines (nothing to chain onto), whatever
    // the base — here one read from another cache's entry
    val other = new ParquetQueryCache(tmpDir("pq-append-other"))
    other.put("fp", 1L, rows(0 until 3))
    assert(c.putAppend("fp", 1L, other.get("fp").get, rows(0 until 3)).isEmpty)
    c.put("fp", 1L, rows(0 until 3))
    assert(segs() == 1)
    val r2 = c.putAppend("fp", 2L, base(), rows(3 until 5))
    assert(r2.isDefined && r2.get.count() == 5)
    assert(segs() == 2)
    val r3 = c.putAppend("fp", 3L, base(), rows(5 until 6))
    assert(r3.isDefined && r3.get.count() == 6)
    assert(segs() == 3)
    // chain at the cap: decline; the caller full-puts (compaction)
    assert(c.putAppend("fp", 4L, base(), rows(6 until 7)).isEmpty)
    c.put("fp", 4L, rows(0 until 7))
    assert(segs() == 1)
    // replay through get() unions the whole chain at every step
    val got = c.get("fp").get
    assert(got.timestampMicros == 4L)
    assert(got.read(spark).as[(Long, String)].collect().sorted.toSeq ==
      (0 until 7).map(i => (i.toLong, s"v$i")))
    // an EMPTY delta neither commits a meta nor grows the chain — the
    // returned replay is the unchanged old chain (no-op refresh contract)
    val segsBefore = segs()
    val rEmpty = c.putAppend("fp", 5L, base(), rows(0 until 0))
    assert(rEmpty.isDefined && rEmpty.get.count() == 7)
    assert(segs() == segsBefore)
    assert(c.get("fp").get.timestampMicros == 4L,
      "an empty append advanced the watermark")
    // schema drift declines (caller's full put re-materializes)
    assert(c.putAppend("fp", 5L, base(),
      Seq((1, 2)).toDF("a", "b")).isEmpty)
    // a base whose head another commit replaced since commits nothing:
    // no segment, no meta
    val stale = base()
    assert(c.putAppend("fp", 5L, base(), rows(7 until 8)).isDefined)
    val entry = new java.io.File(dir, graft.cache.QueryCache.keyHash("fp"))
    val files = entry.list().toSet
    assert(c.putAppend("fp", 6L, stale, rows(8 until 9)).isEmpty)
    assert(entry.list().toSet == files)
    assert(c.get("fp").get.timestampMicros == 5L)
    // a fresh reader (new cache handle) sees the chained entry intact
    val c2 = new ParquetQueryCache(dir)
    val again = c2.get("fp").get
    assert(again.read(spark).count() == 8)
  }

  /** the meta text written before the JSON codec, which escaped only
    * quotes, backslashes and newlines */
  private def legacyEsc(x: String): String = x.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  }
  private def legacyMetaJson(m: ParquetQueryCache.Meta): String = {
    val measureBlob = m.measures
      .map { case (d, cols) => s"$d|${cols.mkString(",")}" }.mkString("\n")
    val segMaxBlob = m.segMaxTs.map { case (d, mx) => s"$d|$mx" }.mkString("\n")
    val segRowsBlob = m.segRows.map { case (d, r) => s"$d|$r" }.mkString("\n")
    s"""{"timestampMicros":${m.timestampMicros},"dataDir":"${legacyEsc(m.dataDir)}","schema":"${legacyEsc(m.schema.json)}","sourcePaths":"${legacyEsc(m.sourcePaths.mkString("\n"))}","fingerprint":"${legacyEsc(m.fingerprint)}","baseFp":"${legacyEsc(m.baseFp)}","measures":"${legacyEsc(measureBlob)}","extraDataDirs":"${legacyEsc(m.extraDataDirs.mkString("\n"))}","segMaxTs":"${legacyEsc(segMaxBlob)}","segRows":"${legacyEsc(segRowsBlob)}"}"""
  }

  test("ParquetQueryCache metas: legacy text and a pre-r6 meta parse to " +
      "the same Meta; a repair sidecar that does not parse is all history") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._
    import ParquetQueryCache.{Meta, readMeta, writeMetaAtomic}
    val root = tmpDir("meta-codec")
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    def parse(text: String): Meta = {
      val p = new Path(dir, "meta-1.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "meta-1.json"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      readMeta(fs, p)
    }
    val schema = StructType(Seq(StructField("_g0", TimestampType),
      StructField("we\"ird\\ name", LongType)))
    val full = Meta(1700000000000000L, "data-1700000000000002-ab12cd34",
      schema, Seq("file:/t/events", "file:/t/dim"),
      "fp \t\"quoted\" \\ x\r", "base",
      Seq(("sum(v)", Seq("_s0", "_s1")), ("count(1)", Seq("_s2"))),
      extraDataDirs = Seq("data-5-x", "data-3-y"),
      segMaxTs = Seq("data-5-x" -> 5L, "data-3-y" -> -3L),
      segRows = Seq("data-1700000000000002-ab12cd34" -> 2L, "data-5-x" -> 3L))
    // the legacy writer left tabs and carriage returns raw
    assert(legacyMetaJson(full).contains('\t'))
    assert(parse(legacyMetaJson(full)) == full)
    assert(parse(s"""{"timestampMicros":5,"dataDir":"data-5","schema":"${
      legacyEsc(schema.json)}"}""") == Meta(5L, "data-5", schema))
    // the codec's own text round-trips
    writeMetaAtomic(fs, dir, full, 7L)
    assert(readMeta(fs, new Path(dir, "meta-7.json")) == full)

    val cacheRoot = tmpDir("meta-codec-cache")
    val c = new ParquetQueryCache(cacheRoot)
    c.put("fp", 1L, stateDF) // reads the events table
    assert(c.repairRange("events", 10L, 20L) == 1)
    java.nio.file.Files.write(java.nio.file.Paths.get(cacheRoot,
      graft.cache.QueryCache.keyHash("fp"), "repair-bad.json"),
      "{\"loMicros\":".getBytes)
    assert(c.pendingRepairs("fp").map(r => (r.loMicros, r.hiMicros)).toSet ==
      Set((10L, 20L), (Long.MinValue / 2, Long.MaxValue / 2)))
  }

  test("MemoryQueryCache capacity guard") {
    val cache = new MemoryQueryCache(maxStateRows = 2)
    intercept[CacheCapacityExceeded](cache.put("fp", 1L, stateDF))
    assert(cache.get("fp").isEmpty)
  }

  test("MemoryQueryCache bounds entry count via LRU eviction") {
    val cache = new MemoryQueryCache(maxEntries = 3)
    val one = stateDF.limit(1)
    (1 to 5).foreach { i =>
      cache.put(s"fp$i", i.toLong, one)
      cache.recordSourcePaths(s"fp$i", Seq(s"/data/t$i"))
    }
    // the source-path index must follow evicted entries out — otherwise
    // a long session's index grows with every fingerprint ever cached
    assert(cache.recordedSourcePaths("fp1").isEmpty &&
      cache.recordedSourcePaths("fp2").isEmpty,
      "source index retained evicted entries")
    assert(cache.recordedSourcePaths("fp5").nonEmpty)
    cache.invalidate("fp5")
    assert(cache.recordedSourcePaths("fp5").isEmpty,
      "source index retained invalidated entry")
    cache.put("fp5", 5L, one)
    assert(cache.size == 3, s"session grew past maxEntries: ${cache.size}")
    // oldest evicted, newest retained
    assert(cache.get("fp1").isEmpty && cache.get("fp2").isEmpty)
    assert(cache.get("fp5").nonEmpty)
    // recently-USED survives the next eviction (access order, not insert)
    assert(cache.get("fp3").nonEmpty)
    cache.put("fp6", 6L, one) // evicts fp4 (LRU), not the just-read fp3
    assert(cache.get("fp3").nonEmpty && cache.get("fp4").isEmpty)
  }

  test("MemoryQueryCache expires entries past the TTL") {
    val cache = new MemoryQueryCache(ttlMs = 1L)
    cache.put("fp", 1L, stateDF.limit(1))
    Thread.sleep(10)
    assert(cache.get("fp").isEmpty, "TTL-expired entry still served")
    assert(cache.size <= 1)
    val forever = new MemoryQueryCache() // ttl disabled by default
    forever.put("fp", 1L, stateDF.limit(1))
    Thread.sleep(10)
    assert(forever.get("fp").nonEmpty)
  }

  pqTest("ParquetQueryCache defers deletion of superseded versions") {
    val dir = tmpDir("pqdefer")
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs() = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir, graft.cache.QueryCache.keyHash("fp")))
      .map(_.getPath.getName).filter(_.startsWith("data-")).toSet

    // within the retention window (default grace), an in-flight reader of
    // the superseded version must still find its files (ADVICE r2)
    val c = new ParquetQueryCache(dir)
    c.put("fp", 1L, stateDF)
    val v1 = c.get("fp").get
    c.put("fp", 2L, stateDF.limit(2))
    assert(dataDirs().size == 2, s"superseded version deleted eagerly: ${dataDirs()}")
    assert(v1.read(spark).count() == stateDF.count()) // old handle still readable
    assert(c.get("fp").get.timestampMicros == 2L)

    // past the window (grace 0, keep 1) old versions are collected
    val tight = new ParquetQueryCache(dir, keepVersions = 1, graceMs = 0L)
    tight.put("fp", 3L, stateDF.limit(1))
    tight.put("fp", 4L, stateDF.limit(1))
    assert(dataDirs().size <= 2, s"cleanup never ran: ${dataDirs()}")
    assert(tight.get("fp").get.timestampMicros == 4L)
  }

  test("ParquetQueryCache commits inside the grace window read no meta " +
      "during cleanup") {
    val root = s"${OpenCountingFs.Scheme}://${tmpDir("pq-cleanup")}"
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${OpenCountingFs.Scheme}.impl", classOf[OpenCountingFs].getName)
    val c = new ParquetQueryCache(root, appendChainMax = 4)
    import spark.implicits._
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "s")
    OpenCountingFs.reset()
    c.put("fp", 1L, rows(0 until 3))
    (2 to 4).foreach(v => assert(c.putAppend("fp", v.toLong,
      c.get("fp").get, rows(v * 10 until v * 10 + 2)).isDefined))
    c.put("fp", 5L, rows(0 until 9))
    c.put("fp", 6L, rows(0 until 9))
    // each commit after the first reads the head meta it builds on, once,
    // and each append's base came from one get; inside the grace window
    // cleanup reads none
    assert(OpenCountingFs.metaOpens.get == 5 + 3,
      s"${OpenCountingFs.metaOpens.get} meta reads for 6 commits and 3 gets")
    assert(c.get("fp").get.read(spark).count() == 9)
  }

  test("ParquetQueryCache writes small state from the driver as one file " +
      "with TIMESTAMP_MICROS stats and its row count; input over the " +
      "bound or of unknown size goes distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("pq-paths")
    val c = new ParquetQueryCache(dir)
    def dayCounts = Tables.events(spark, sf0001)
      .groupBy(date_trunc("day", col("ts")).as("_g0"))
      .agg(count(lit(1)).as("_s0_cnt"))
    val state = dayCounts
    def fromDriver(df: org.apache.spark.sql.DataFrame): Boolean =
      org.apache.spark.sql.graftshim.Shims.queryExecution(df).analyzed
        .collectFirst { case _: LocalRelation => () }.isDefined
    val entry = new java.io.File(dir, graft.cache.QueryCache.keyHash("fp"))
    def headSeg(): java.io.File = {
      val head = entry.listFiles().map(_.getName)
        .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
        .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
      val json = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(entry, head).toPath))
      new java.io.File(entry,
        json.split("\"dataDir\":\"").last.takeWhile(_ != '"'))
    }
    val expect = state.collect().map(_.toString).sorted.toSeq
    val stored = c.put("fp", 1L, state)
    assert(fromDriver(stored), "small state was not answered from its rows")
    assert(stored.collect().map(_.toString).sorted.toSeq == expect)
    val seg = headSeg()
    val parquet = seg.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquet.length == 1 && new java.io.File(seg, "_SUCCESS").exists,
      seg.listFiles().map(_.getName).toSeq)
    // the footer carries micros timestamps with min/max stats on the
    // bucket column: the refreshBand keep test reads them
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(parquet.head.toURI),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      assert(schema.getType(schema.getFieldIndex("_g0"))
        .getLogicalTypeAnnotation == org.apache.parquet.schema
        .LogicalTypeAnnotation.timestampType(true,
          org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS))
      val st = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "_g0").map(_.getStatistics)
      val days = state.select(expr("unix_micros(_g0)")).collect()
        .map(_.getLong(0))
      assert(st.nonEmpty && st.forall(_.hasNonNullValue))
      assert(st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue)
        .min == days.min)
      assert(st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        .max == days.max)
    } finally r.close()
    // the recorded segment row count is the segment's row count
    val metaJson = entry.listFiles().filter(_.getName.startsWith("meta-"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString
    assert(metaJson.contains(s"${seg.getName}|${expect.size}\""), metaJson)
    assert(spark.read.parquet(seg.toString).count() == expect.size)
    // input over the bound: the distributed write, answered from files
    withDriverStateMaxBytes(Some(1024L)) {
      val big = c.put("fp", 2L, state)
      assert(!fromDriver(big), "input over the bound took the driver path")
      assert(big.collect().map(_.toString).sorted.toSeq == expect)
    }
    // a persisted input (the in-memory relation a SharedDelta scan
    // plans) has no known scan size: distributed too
    val persisted = dayCounts.persist()
    try {
      persisted.count()
      val p = c.put("fp", 3L, persisted)
      assert(!fromDriver(p), "a persisted input took the driver path")
      assert(p.collect().map(_.toString).sorted.toSeq == expect)
    } finally { persisted.unpersist(); () }
  }

  test("ParquetQueryCache bounds the driver path by the bytes it collects, " +
      "not only by its input, with spark.driver.maxResultSize unlimited") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.graftshim.Shims
    // a row-grain state whose parquet input is a few KB (dictionary +
    // run-length encoded) but whose decoded rows are ~700 KB
    val table = tmpDir("pq-rowgrain")
    spark.range(0, 20000).select((col("id") % 10).as("k"),
      lit("constant").as("s")).write.mode("overwrite").parquet(table)
    val state = spark.read.parquet(table)
    val inputBytes = Shims.scanBytes(state).get
    // the collect's measure: each row's bytes plus its 4-byte length
    val rowBytes = Shims.queryExecution(state).toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes + 4L).sum().toLong
    assert(inputBytes * 10 < rowBytes, s"$inputBytes B in, $rowBytes B rows")
    val expect = state.collect().map(_.toString).sorted.toSeq
    val c = new ParquetQueryCache(tmpDir("pq-rowgrain-cache"))
    def fromDriver(df: org.apache.spark.sql.DataFrame): Boolean =
      Shims.queryExecution(df).analyzed
        .collectFirst { case _: LocalRelation => () }.isDefined
    org.apache.spark.DriverConfForTests.withMaxResultSize(
        spark.sparkContext, "0") {
      // rows exactly at the bound: the driver path
      val at = withDriverStateMaxBytes(Some(rowBytes))(c.put("fp", 1L, state))
      assert(fromDriver(at), "state at the bound did not take the driver path")
      assert(at.collect().map(_.toString).sorted.toSeq == expect)
      // one byte under the rows, far over the input: distributed
      val over =
        withDriverStateMaxBytes(Some(rowBytes - 1))(c.put("fp", 2L, state))
      assert(!fromDriver(over), "rows over the bound took the driver path")
      assert(over.collect().map(_.toString).sorted.toSeq == expect)
    }
    assert(c.get("fp").get.read(spark).count() == expect.size)
  }

  test("ParquetQueryCache: a state collect aborted by spark.driver." +
      "maxResultSize falls back to the distributed write") {
    val c = new ParquetQueryCache(tmpDir("pq-maxresult"))
    // ~1k groups: far more than 2 KiB of collected rows, while each task
    // of the distributed write returns a few hundred bytes
    val state = Tables.events(spark, sf0001)
      .groupBy(col("event_id").as("_g0")).agg(count(lit(1)).as("_s0_cnt"))
    val expect = state.collect().map(_.toString).sorted.toSeq
    val stored = org.apache.spark.DriverConfForTests.withMaxResultSize(
      spark.sparkContext, "2k")(c.put("fp", 1L, state))
    assert(org.apache.spark.sql.graftshim.Shims.queryExecution(stored)
      .analyzed.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      }.isEmpty, "the aborted collect still answered from driver rows")
    assert(stored.collect().map(_.toString).sorted.toSeq == expect)
    assert(c.get("fp").get.read(spark).count() == expect.size)
  }

  pqTest("ParquetQueryCache evicts least-recently-written entries past maxEntries") {
    val dir = tmpDir("pq-evict")
    val c = new ParquetQueryCache(dir, maxEntries = 2, sweepIntervalMs = 0L)
    val one = stateDF.limit(1)
    c.put("fpA", 1L, one); Thread.sleep(20)
    c.put("fpB", 2L, one); Thread.sleep(20)
    c.put("fpC", 3L, one) // the sweep on this put evicts fpA
    assert(c.get("fpA").isEmpty, "oldest entry not evicted")
    assert(c.get("fpB").nonEmpty && c.get("fpC").nonEmpty)
    assert(c.stats.evictions >= 1)
    // evictions are durable tombstones: a fresh reader agrees
    val c2 = new ParquetQueryCache(dir)
    assert(c2.get("fpA").isEmpty && c2.get("fpB").nonEmpty)
  }

  test("ParquetQueryCache maxBytes keeps the newest entry, evicts the rest") {
    val dir = tmpDir("pq-bytes")
    val c = new ParquetQueryCache(dir, maxBytes = 1L, sweepIntervalMs = 0L)
    val one = stateDF.limit(1)
    c.put("fpA", 1L, one); Thread.sleep(20)
    c.put("fpB", 2L, one)
    // a lone over-budget entry must not flap: the newest always survives
    assert(c.get("fpB").nonEmpty, "newest entry evicted under maxBytes")
    assert(c.get("fpA").isEmpty)
  }

  test("ParquetQueryCache expires entries past the TTL sweep") {
    val dir = tmpDir("pq-ttl")
    val c = new ParquetQueryCache(dir, ttlMs = 50L, sweepIntervalMs = 0L)
    val one = stateDF.limit(1)
    c.put("old", 1L, one)
    Thread.sleep(150)
    c.put("new", 2L, one) // this put's sweep expires "old"
    assert(c.get("old").isEmpty, "TTL-expired entry still resolvable")
    assert(c.get("new").nonEmpty)
    assert(c.stats.evictions >= 1)
  }

  test("ParquetQueryCache: a reader resolved before eviction still completes") {
    val dir = tmpDir("pq-evict-race")
    // default graceMs (10 min): evicted files stay for in-flight readers
    val c = new ParquetQueryCache(dir, maxEntries = 1, sweepIntervalMs = 0L)
    c.put("fpOld", 1L, stateDF)
    val resolved = c.get("fpOld").get // reader resolves the meta NOW
    Thread.sleep(20)
    c.put("fpNew", 2L, stateDF.limit(1)) // sweep tombstones fpOld
    assert(c.get("fpOld").isEmpty, "tombstoned entry still resolvable")
    // the in-flight reader's scan still succeeds — files aged, not yanked
    assert(resolved.read(spark).count() == stateDF.count())
    assert(c.stats.evictions >= 1)
  }

  test("ParquetQueryCache survives a new reader (durable)") {
    val dir = tmpDir("pqdur")
    val c1 = new ParquetQueryCache(dir)
    c1.put("fpX", 42L, stateDF)
    val c2 = new ParquetQueryCache(dir) // fresh instance, same directory
    val hit = c2.get("fpX").get
    assert(hit.timestampMicros == 42L)
    assert(hit.read(spark).count() == stateDF.count())
  }

  pqTest("ParquetQueryCache: concurrent same-fp writers with a live reader") {
    // the versioned-meta + per-writer-data-dir + deferred-deletion design
    // claims: two sessions putting the SAME fingerprint while a third
    // reads can never hand the reader a torn or missing version. Writers
    // alternate states of 1 vs 4 rows — any read observing a complete
    // version counts exactly 1 or 4; anything else (0, FileNotFound,
    // parse error) is a race defect.
    val dir = tmpDir("pqrace")
    val oneRow = stateDF.limit(1)
    val fourRows = stateDF.limit(4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def submit(f: => Unit) = pool.submit(new Runnable {
      def run(): Unit =
        try f catch { case t: Throwable => errors.add(t.toString); () }
    })
    val iters = 6
    val w1 = submit {
      val c = new ParquetQueryCache(dir)
      (0 until iters).foreach(i => c.put("fpR", 10L + i, oneRow))
    }
    val w2 = submit {
      val c = new ParquetQueryCache(dir)
      (0 until iters).foreach(i => c.put("fpR", 20L + i, fourRows))
    }
    val r = submit {
      val c = new ParquetQueryCache(dir)
      while (!(w1.isDone && w2.isDone)) {
        c.get("fpR").foreach { hit =>
          val n = hit.read(spark).count()
          if (n != 1 && n != 4) errors.add(s"torn read: $n rows")
          reads.incrementAndGet()
        }
      }
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"race defects: ${errors.toArray.mkString("; ")}")
    assert(reads.get() > 0, "reader never observed an entry")
    // the surviving head is one of the writers' final versions
    val n = new ParquetQueryCache(dir).get("fpR").get.read(spark).count()
    assert(n == 1 || n == 4, s"final state has $n rows")
  }

  test("invalidateForTable drops only entries that read the table") {
    val cache = new MemoryQueryCache()
    val one = stateDF.limit(1)
    cache.put("fpA", 1L, one)
    cache.recordSourcePaths("fpA", Seq("file:/data/dims/customer.parquet"))
    cache.put("fpB", 1L, one)
    cache.recordSourcePaths("fpB", Seq("file:/data/facts/events"))
    // matches by basename / extension-less basename, case-insensitively —
    // the same rules staticDimensionTables declarations use
    assert(cache.invalidateForTable("CUSTOMER") == 1)
    assert(cache.get("fpA").isEmpty, "entry reading the table survived")
    assert(cache.get("fpB").nonEmpty, "unrelated entry was dropped")
    assert(cache.invalidateForTable("customer") == 0) // idempotent
    assert(cache.invalidateForTable("/data/facts/events") == 1) // full path
    assert(cache.get("fpB").nonEmpty == false)
    // authority-bearing URIs match by plain path: the documented
    // full-path disambiguation remedy must work without the user
    // spelling scheme+authority
    cache.put("fpC", 1L, one)
    cache.recordSourcePaths("fpC", Seq("hdfs://nn:8020/warehouse/customer"))
    assert(cache.invalidateForTable("/warehouse/customer") == 1)
    assert(cache.get("fpC").isEmpty)
  }

  test("static-dim declarations match scan paths scheme-blind") {
    val cfg = QueryCacheConfig(new MemoryQueryCache,
      defaultTemporalColumn = "ts").withStaticDimensions("/data/dims/customer")
    // scans report file:/hdfs: schemes where users declare bare paths
    assert(cfg.isDeclaredStatic(Seq("file:/data/dims/customer")))
    assert(cfg.isDeclaredStatic(Seq("hdfs://nn:8020/data/dims/customer")))
    assert(!cfg.isDeclaredStatic(Seq("file:/data/dims/orders")))
    // and basename declarations still work on scheme-bearing paths
    val byName = QueryCacheConfig(new MemoryQueryCache,
      defaultTemporalColumn = "ts").withStaticDimensions("customer")
    assert(byName.isDeclaredStatic(Seq("file:/x/y/customer.parquet")))
  }

  test("shared ParquetQueryCache: query sessions racing an invalidator stay correct") {
    // two independent cache handles over ONE directory run the same
    // cached aggregate in a loop (each iteration is a fresh get->merge->
    // put cycle) while a third handle invalidates the table's entries
    // under them. The deferred-deletion design claims any interleaving is
    // safe; the invariant checked is the strongest one available: EVERY
    // query result equals the vanilla answer over the (static) table —
    // an invalidate landing between a get and its put can at worst cost
    // a re-miss, never a wrong or torn answer.
    val dir = tmpDir("pqstress")
    val work = tmpDir("pqstress-tbl")
    Tables.events(spark, sf0001).write.mode("overwrite").parquet(work)
    def q() = spark.read.parquet(work).filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    val expect = q().collect().map(_.toString).sorted.toSeq
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val invalidations = new java.util.concurrent.atomic.AtomicInteger(0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def submit(f: => Unit) = pool.submit(new Runnable {
      def run(): Unit =
        try f catch { case t: Throwable => errors.add(t.toString); () }
    })
    def runner(iters: Int) = submit {
      val cache = new ParquetQueryCache(dir)
      (0 until iters).foreach { _ =>
        val sess = QueryCacheSession(spark,
          QueryCacheConfig(cache, defaultTemporalColumn = "ts"))
        val got = sess.run(q()).collect().map(_.toString).sorted.toSeq
        if (got != expect)
          errors.add(s"wrong answer under race: ${got.size} vs ${expect.size} rows")
        hits.addAndGet(cache.stats.hits.toInt)
      }
    }
    val r1 = runner(8)
    val r2 = runner(8)
    // invalidation rounds until ONE live entry is caught, then stop so
    // late iterations warm-hit. (A fixed 4×300ms window failed
    // spuriously on a loaded machine where no put committed inside it.)
    val inv = submit {
      val admin = new ParquetQueryCache(dir)
      var rounds = 0
      while (invalidations.get() == 0 && rounds < 400 &&
          !(r1.isDone && r2.isDone)) {
        Thread.sleep(300)
        invalidations.addAndGet(admin.invalidateForTable(work))
        rounds += 1
      }
      // runners already done with nothing caught mid-run: their last put
      // is a live committed entry — a final sweep catches it, keeping the
      // "caught a live entry" precondition meaningful on any schedule
      if (invalidations.get() == 0)
        invalidations.addAndGet(admin.invalidateForTable(work))
    }
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"race defects: ${errors.toArray.mkString("; ")}")
    assert(invalidations.get() > 0, "invalidator never caught a live entry")
    assert(hits.get() > 0, "no run ever warm-hit — race test degenerated")
  }

  test("chained durable aggregates survive concurrent runners + invalidator") {
    // the static-table stress above never appends, so warm commits are
    // no-ops and the CHAIN path never engages. This variant grows the
    // table in phases with a barrier between phases (within a phase the
    // data is static, so the invariant stays exact): two runners race
    // their chain commits against each other — each extends only the
    // head it read, so a runner whose head the other replaced first
    // commits its full state instead (two runners that read the same
    // head and commit the same version: one meta rename wins, the loser's
    // segment orphans, and either chain holds the full content, both
    // deltas covering [wm, now) of that head) — while an invalidator
    // tombstones the entry mid-run in one phase. Every answer must equal
    // the phase's vanilla.
    val dir = tmpDir("pqchainstress")
    val work = tmpDir("pqchainstress-tbl")
    val ev = Tables.events(spark, sf0001)
    def pct(p: Double) = ev.selectExpr(
      s"CAST(percentile_approx(unix_micros(ts), $p) AS LONG)").first().getLong(0)
    val cutsUs = Seq(pct(0.5), pct(0.62), pct(0.74), pct(0.86))
    val maxUs = ev.selectExpr("max(unix_micros(ts))").first().getLong(0)
    val bounds = (Seq(Long.MinValue) ++ cutsUs ++ Seq(Long.MaxValue))
      .sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    def q() = spark.read.parquet(work).filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        // DECIMAL sum: chained merges reorder additions, and a double
        // sum's last-ulp wobble would fail the exact string compare
        sum(col("value").cast("decimal(18,4)")).as("sv"),
        max(col("value")).as("mx"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    var invalidations = 0
    bounds.zipWithIndex.foreach { case ((lo, hi), phase) =>
      ev.filter(col("ts") >= timestamp_micros(lit(lo)) &&
          col("ts") < timestamp_micros(lit(hi)))
        .write.mode(if (phase == 0) "overwrite" else "append").parquet(work)
      val expect = q().collect().map(_.toString).sorted.toSeq
      val nowUs = if (hi == Long.MaxValue) maxUs + 1000000L else hi
      def runner() = pool.submit(new Runnable {
        def run(): Unit = try {
          val cache = new ParquetQueryCache(dir)
          (0 until 3).foreach { _ =>
            val got = QueryCacheSession(spark, QueryCacheConfig(cache,
              defaultTemporalColumn = "ts",
              overrideNowMicros = Some(nowUs)))
              .run(q()).collect().map(_.toString).sorted.toSeq
            if (got != expect)
              errors.add(s"phase $phase wrong answer: ${got.size} vs " +
                s"${expect.size} rows")
          }
        } catch { case t: Throwable => errors.add(t.toString); () }
      })
      val fs = Seq(runner(), runner()) ++
        (if (phase == 2) Seq(pool.submit(new Runnable {
          def run(): Unit = try {
            Thread.sleep(200)
            invalidations += new ParquetQueryCache(dir)
              .invalidateForTable(work)
          } catch { case t: Throwable => errors.add(t.toString); () }
        })) else Nil)
      fs.foreach(_.get(240, java.util.concurrent.TimeUnit.SECONDS))
    }
    pool.shutdown()
    assert(errors.isEmpty, s"race defects: ${errors.toArray.mkString("; ")}")
    assert(invalidations > 0, "invalidator never caught a live entry")
    // the final (post-invalidation) phases rebuilt the entry and the
    // last small appends CHAINED: the head meta carries a segment tail
    val entryDir = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .maxBy(d => d.listFiles().map(_.lastModified).max)
    val head = entryDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
      .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
    val json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(entryDir, head).toPath))
    assert(json.split("\"extraDataDirs\":\"").last.takeWhile(_ != '"').nonEmpty,
      s"no warm commit ever chained under the race: $json")
  }

  test("describe: one operational row per live entry, both caches, " +
      "cross-process for the durable one") {
    // memory: a real cached query so source paths + repairs are indexed
    val work = tmpDir("descmem")
    Tables.events(spark, sf0001).limit(500)
      .write.mode("overwrite").parquet(work)
    val mem = new MemoryQueryCache()
    def q(df: org.apache.spark.sql.DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    QueryCacheSession(spark, QueryCacheConfig(mem,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(7777000000L)))
      .run(q(spark.read.parquet(work))).collect()
    val md = mem.describe(spark).collect()
    assert(md.length == 1, md.toSeq)
    val mr = md.head
    assert(mr.getAs[String]("fingerprint").nonEmpty)
    assert(mr.getAs[Long]("watermark_micros") == 7777000000L)
    assert(mr.getAs[Long]("state_rows") > 0)
    assert(mr.getAs[Seq[String]]("source_paths").exists(_.contains("descmem")))
    assert(mr.getAs[Int]("pending_repairs") == 0)
    assert(mem.repairRange(work, 0L, 1000L) == 1)
    assert(mem.describe(spark).collect()
      .head.getAs[Int]("pending_repairs") == 1)
    // durable: described from persisted metas by a FRESH handle
    val dir = tmpDir("descdur")
    val writer = new ParquetQueryCache(dir)
    writer.put("fpDesc", 4242L, stateDF)
    val other = new ParquetQueryCache(dir)
    val dd = other.describe(spark).collect()
    assert(dd.length == 1, dd.toSeq)
    val dr = dd.head
    assert(dr.getAs[String]("fingerprint") == "fpDesc")
    assert(dr.getAs[Long]("watermark_micros") == 4242L)
    assert(dr.getAs[Long]("state_bytes") > 0)
    assert(dr.getAs[Int]("segments") >= 1)
    assert(dr.getAs[Long]("version") > 0)
    assert(dr.getAs[Long]("state_rows") == -1L)
    // a tombstoned entry disappears from the listing
    other.invalidate("fpDesc")
    assert(other.describe(spark).collect().isEmpty)
  }

  test("ParquetQueryCache invalidateForTable works cross-process via meta") {
    val dir = tmpDir("pqinv")
    val writer = new ParquetQueryCache(dir)
    writer.put("fpSrc", 1L, stateDF) // state plan reads sf0.001 events
    // a FRESH instance has no in-process source index — the remedy must
    // resolve the table from the source paths persisted in meta.json
    val other = new ParquetQueryCache(dir)
    assert(other.get("fpSrc").nonEmpty)
    assert(other.invalidateForTable("events") == 1)
    assert(other.get("fpSrc").isEmpty)
    assert(writer.get("fpSrc").isEmpty, "writer still sees the dropped entry")
    assert(other.invalidateForTable("events") == 0)
  }

  // ------------------------------------------- resident state (driver merge)

  /** A day-by-entity aggregate over a table that grows a day at a time,
    * refreshed through ParquetQueryCache instances rooted on a counting
    * file system: every answer is compared with vanilla, and a refresh
    * reports how many cache state files its tasks opened. */
  private final class Rig(tag: String) {
    val DayUs = 86400L * 1000000L
    val StartUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val RowsPerDay = 500L
    val table = tmpDir(s"rig-$tag-table")
    val dir = tmpDir(s"rig-$tag-cache")
    val root = s"${OpenCountingFs.Scheme}://$dir"
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${OpenCountingFs.Scheme}.impl", classOf[OpenCountingFs].getName)
    /** is a small refresh merged on the driver (the default bound)? */
    val driverMerges: Boolean = ParquetQueryCache.driverStateMaxBytes > 0

    /** `days` days of rows from day `from`; `bump` shifts every value */
    def slice(from: Int, days: Int, bump: Int = 0) = {
      val lo = from * RowsPerDay
      spark.range(lo, lo + days * RowsPerDay).select(
        col("id").as("event_id"),
        timestamp_micros(lit(StartUs) + col("id") * (DayUs / RowsPerDay))
          .as("ts"),
        (pmod(col("id") * 7919L, lit(10000L)) / 100.0 + bump).as("value"))
    }
    def query(t: org.apache.spark.sql.DataFrame) =
      t.groupBy(date_trunc("day", col("ts")).as("day"),
          expr("event_id DIV 64").as("ent"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(14,3)")).as("sv"))
    /** the cold table: days [0, days) */
    def create(days: Int): Unit =
      slice(0, days).write.mode("overwrite").parquet(table)
    def append(day: Int): Unit =
      slice(day, 1).write.mode("append").parquet(table)
    /** rewrite the table's history: days [0, days), values bumped on the
      * days in [lo, hi) */
    def rewrite(days: Int, lo: Int, hi: Int): Unit = {
      val tmp = tmpDir(s"rig-$tag-rewrite")
      slice(0, days).withColumn("value", when(
        col("ts") >= timestamp_micros(lit(StartUs + lo * DayUs)) &&
          col("ts") < timestamp_micros(lit(StartUs + hi * DayUs)),
        col("value") + 1).otherwise(col("value")))
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(table)
    }
    def cache(maxEntries: Int = 0, ttlMs: Long = 0L) =
      new ParquetQueryCache(root, maxEntries = maxEntries, ttlMs = ttlMs,
        sweepIntervalMs = 0L)
    /** refresh through `c` at the start of day `day`, checked against
      * vanilla; returns the cache state files its tasks opened */
    def refresh(c: ParquetQueryCache, day: Int, bandUs: Option[Long] = None,
        q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          query, log: graft.log.CacheLog = graft.log.NoOpLog): Long = {
      OpenCountingFs.reset()
      val df = q(spark.read.parquet(table))
      val got = QueryCacheSession(spark, QueryCacheConfig(c,
        defaultTemporalColumn = "ts", lateRescanBandMicros = bandUs,
        overrideNowMicros = Some(StartUs + day * DayUs), log = log))
        .run(df).collect().map(_.toString).sorted.toSeq
      val opens = OpenCountingFs.taskOpens.get
      assert(got == df.collect().map(_.toString).sorted.toSeq,
        s"refresh at day $day differs from vanilla")
      opens
    }
    /** the fingerprint of the one entry under the root */
    def fingerprint(c: ParquetQueryCache): String =
      c.describe(spark).collect().head.getAs[String]("fingerprint")
    /** prime with `c` at day 10, then two refreshes: `c` ends resident
      * (on the driver path, the second refresh opens no state file) */
    def warm(c: ParquetQueryCache): Unit = {
      create(10)
      refresh(c, 10)
      append(10)
      refresh(c, 11)
      append(11)
      val opens = refresh(c, 12)
      if (driverMerges) assert(opens == 0, "a resident refresh read state")
    }
  }

  pqTest("resident state: a head another instance committed is read, " +
      "never the stale copy") {
    val rig = new Rig("other")
    val a = rig.cache()
    rig.warm(a)
    rig.append(12)
    rig.refresh(rig.cache(), 13) // another instance commits a new head
    // `a` still holds the state it committed at day 12; the head is the
    // other instance's, so `a` reads it
    assert(rig.refresh(a, 13) > 0)
    rig.append(13)
    rig.refresh(a, 14)
  }

  pqTest("resident state: two writers racing to one version number") {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    val rig = new Rig("race")
    val a = rig.cache()
    rig.warm(a)
    // writer B starts from the same head: a copy of the root
    val bDir = tmpDir("rig-race-b")
    copyTree(Paths.get(rig.dir), Paths.get(bDir))
    val b = new ParquetQueryCache(s"${OpenCountingFs.Scheme}://$bDir")
    rig.append(12)
    rig.refresh(a, 13) // A commits meta-<day 13>
    // late rows of day 12 arrive between A's scan and B's
    rig.slice(12, 1).withColumn("event_id", col("event_id") + 1000000L)
      .write.mode("append").parquet(rig.table)
    rig.refresh(b, 13) // B commits meta-<day 13> too, with more rows
    // B's rename wins: its meta and data directory replace A's head
    val key = new java.io.File(bDir).listFiles().filter(_.isDirectory).head
      .getName
    val (src, dst) = (Paths.get(bDir, key), Paths.get(rig.dir, key))
    val version = (rig.StartUs + 13 * rig.DayUs).toString
    Files.list(src).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(s"data-$version-") || n == s"meta-$version.json")
        copyTree(p, dst.resolve(n))
    }
    // same version, another writer's directories: A must read them
    assert(rig.refresh(a, 13) > 0)
    rig.append(13)
    rig.refresh(a, 14)
  }

  pqTest("resident state: invalidate and invalidateForTable drop it") {
    val rig = new Rig("inval")
    val a = rig.cache()
    rig.warm(a)
    // history rewritten, then declared: a stale copy would differ
    rig.rewrite(12, 3, 4)
    val fp = rig.fingerprint(a)
    a.invalidate(fp)
    assert(a.get(fp).isEmpty)
    rig.refresh(a, 12) // cold again
    rig.append(12)
    rig.refresh(a, 13)
    rig.append(13)
    rig.refresh(a, 14) // resident again on the driver path
    rig.rewrite(14, 5, 6)
    assert(rig.cache().invalidateForTable(rig.table) == 1) // another instance
    rig.refresh(a, 14)
    rig.rewrite(14, 6, 7)
    assert(a.invalidateForTable(rig.table) == 1)
    rig.refresh(a, 14)
  }

  pqTest("resident state: a repair range commits past it") {
    val rig = new Rig("repair")
    val a = rig.cache()
    rig.warm(a)
    rig.rewrite(12, 4, 5)
    assert(a.repairRange(rig.table, rig.StartUs + 4 * rig.DayUs,
      rig.StartUs + 5 * rig.DayUs) == 1)
    rig.refresh(a, 12) // repairs from the held state, commits a full put
    rig.append(12)
    // the put's head is not the held copy's: this refresh reads it
    assert(rig.refresh(a, 13) > 0)
    rig.append(13)
    val opens = rig.refresh(a, 14)
    if (rig.driverMerges) assert(opens == 0, "not resident after the repair")
  }

  pqTest("resident state: a late-band refresh commits past it") {
    val rig = new Rig("band")
    val a = rig.cache()
    rig.warm(a)
    // late rows of day 11, under the day-12 watermark: only a band
    // refresh re-reads them
    rig.slice(11, 1).withColumn("event_id", col("event_id") + 1000000L)
      .write.mode("append").parquet(rig.table)
    rig.refresh(a, 12, bandUs = Some(2 * rig.DayUs))
    rig.append(12)
    // refreshBand committed the head: the copy from day 12 is stale
    assert(rig.refresh(a, 13) > 0)
    rig.append(13)
    rig.refresh(a, 14)
  }

  pqTest("resident state: TTL and maxEntries eviction drop it") {
    def other(t: org.apache.spark.sql.DataFrame) =
      t.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(max(col("value")).as("mx"))
    for (evict <- Seq("ttl", "maxEntries")) {
      val rig = new Rig(s"evict-$evict")
      val a = if (evict == "ttl") rig.cache(ttlMs = 2000L)
        else rig.cache(maxEntries = 1)
      rig.warm(a)
      if (evict == "ttl") Thread.sleep(2100)
      rig.refresh(a, 12, q = other) // its put sweeps the first entry out
      rig.rewrite(12, 2, 3) // a stale copy would differ now
      rig.refresh(a, 12)
    }
  }

  pqTest("resident state: a new instance reads the files once, then holds " +
      "the state again") {
    val rig = new Rig("restart")
    rig.warm(rig.cache())
    val c = rig.cache() // a restarted process
    rig.append(12)
    assert(rig.refresh(c, 13) > 0)
    rig.append(13)
    val opens = rig.refresh(c, 14)
    if (rig.driverMerges) assert(opens == 0, "not resident after one refresh")
    else assert(opens > 0)
  }

  // ------------------------------------------------ head rule (two writers)

  /** A log that, at its first "cache hit" line, runs `race` on another
    * thread and waits for it: the run logging it has read its base state
    * and committed nothing yet. (On the same thread the race would share
    * the executor's per-thread rewrite scope.) */
  private final class RaceAtHit(race: => Unit) extends graft.log.CacheLog {
    private val fired = new java.util.concurrent.atomic.AtomicBoolean
    @volatile private var failure: Option[Throwable] = None
    private val events =
      new java.util.concurrent.ConcurrentLinkedQueue[graft.log.CacheEvent]
    override def event(e: graft.log.CacheEvent): Unit = {
      events.add(e)
      super.event(e)
    }
    override def log(level: graft.log.LogLevel, fingerprint: String,
        msg: String): Unit =
      if (msg.startsWith("cache hit") && fired.compareAndSet(false, true)) {
        val t = new Thread(() =>
          try race catch { case e: Throwable => failure = Some(e) })
        t.start()
        t.join()
      }
    /** the race ran, and passed; the raced run was a hit whose chain
      * commit was declined because the head moved */
    def check(): Unit = {
      import graft.log.CacheEvent.{Commit, Decision, Outcome}
      assert(fired.get, "no cache hit: the race never ran")
      failure.foreach(throw _)
      val evs = events.toArray(Array.empty[graft.log.CacheEvent]).toSeq
      assert(evs.collect { case d: Decision => d.outcome } == Seq(Outcome.Hit),
        evs)
      assert(evs.exists {
        case c: Commit => c.declined.contains("head-moved")
        case _ => false
      }, evs)
    }
  }

  /** Writer A reads the day-11 head for its day-12 refresh; writer B, a
    * second instance on the same root, commits its own day-12 refresh
    * first. A's delta was scanned from the head it read: appended onto
    * B's head it would count day 11 twice, in A's answer and durably in
    * every answer after. Every answer is checked against vanilla. */
  private def staleHead(rig: Rig,
      q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Unit = {
    val a = rig.cache()
    rig.create(10)
    rig.refresh(a, 10, q = q)
    rig.append(10)
    rig.refresh(a, 11, q = q)
    rig.append(11)
    val race = new RaceAtHit(rig.refresh(rig.cache(), 12, q = q))
    rig.refresh(a, 12, q = q, log = race)
    race.check()
    rig.append(12)
    rig.refresh(a, 13, q = q)
    rig.refresh(rig.cache(), 13, q = q)
  }

  pqTest("a chain commit extends only the head its run read: aggregates") {
    val rig = new Rig("stale-agg")
    staleHead(rig, rig.query)
  }

  pqTest("a chain commit extends only the head its run read: row views") {
    staleHead(new Rig("stale-rows"), _.filter(col("value") >= 50))
  }
}
