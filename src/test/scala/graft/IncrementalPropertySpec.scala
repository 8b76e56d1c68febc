package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.MemoryQueryCache
import graft.log.RecordingLog

/** Property: for ANY monotone-timestamp event table and ANY split point,
  * cold-on-prefix → append-suffix → warm equals a full recompute
  * (SURVEY §5.4; generator mirrors the reference's 1-row-per-second
  * synthetic stream, examples/demo.rs:86-121). */
class IncrementalPropertySpec extends AnyFunSuite {
  import TestSparkSession._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("service", StringType),
    StructField("value", DoubleType)))

  private val services = Seq("foo", "bar", "baz", "qux", "quux")

  private case class Case(rows: Seq[(Long, String, Double)], splitIdx: Int, q: Int)

  private val genCase: Gen[Case] = for {
    n <- Gen.choose(40, 200)
    // second-aligned: java.sql.Timestamp carries millis, so sub-milli
    // timestamps would silently truncate BELOW the watermark and turn the
    // boundary row into "late data" (the S1 contract drops it — by design)
    baseUs <- Gen.choose(1600000000L, 1700000000L).map(_ * 1000000L)
    steps <- Gen.listOfN(n, Gen.choose(1L, 3000L)) // seconds between rows
    vals <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
    svc <- Gen.listOfN(n, Gen.choose(0, services.size - 1))
    splitIdx <- Gen.choose(1, n - 1)
    q <- Gen.choose(0, nQueries - 1)
  } yield {
    val ts = steps.scanLeft(baseUs)((acc, s) => acc + s * 1000000L).tail
    Case(ts.lazyZip(svc).lazyZip(vals).map((t, s, v) => (t, services(s), v)),
      splitIdx, q)
  }

  private def toDF(rows: Seq[(Long, String, Double)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (t, s, v) =>
        Row(new java.sql.Timestamp(t / 1000), s, v)
      }.asJava, schema)
  }

  private val nQueries = 8

  private def query(i: Int)(df: DataFrame): DataFrame = i match {
    case 0 => df.agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
      min("value").as("mn"), max("value").as("mx"))
    case 1 => df.filter(col("value") > 0)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"), avg("value").as("av"))
    case 2 => df.groupBy(col("service"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    // raw-sums stats family (corr/covar/variance share the state
    // machinery). The time regressor is CENTERED per the documented
    // numeric contract (Decompose.corrCovarState): a raw epoch-seconds
    // column has |mean| >> spread and loses trailing digits to
    // cancellation in ANY sums-based form.
    case 3 =>
      val tsC = col("ts").cast("double") - lit(1.65e9)
      df.groupBy(col("service")).agg(
        round(corr(col("value"), tsC), 6).as("co"),
        round(covar_samp(col("value"), tsC), 6).as("cs"),
        round(covar_pop(col("value"), tsC), 6).as("cp"),
        round(stddev_samp(col("value")), 6).as("sd"))
    // distinct family over the set-union state
    case 4 => df.groupBy(col("service")).agg(
      countDistinct(col("value")).as("dv"),
      sum_distinct(col("value")
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("sdv"),
      expr("avg(DISTINCT CAST(value AS DECIMAL(18,6)))").as("adv"))
    // boolean/bitwise self-decomposing folds
    case 5 => df.groupBy(col("service")).agg(
      bool_and(col("value") > 0).as("allp"),
      bool_or(col("value") > 500).as("anyb"),
      bit_and(col("value").cast("long")).as("ba"),
      bit_or(col("value").cast("long")).as("bo"),
      bit_xor(col("value").cast("long")).as("bx"))
    // percentile family over the value-histogram state (finalize replays
    // Spark's interpolation, so no rounding is needed for equality)
    case 6 => df.groupBy(col("service")).agg(
      count(lit(1)).as("cnt"),
      expr("percentile(value, 0.5)").as("p50"),
      expr("percentile(value, array(0.1, 0.9))").as("pq"))
    // mode (histogram, deterministic tie directions) + grouped top-k
    // (heap-union state); ts tiebreak in the struct keeps top-k total
    case _ => df.groupBy(col("service")).agg(
      expr("mode() WITHIN GROUP (ORDER BY value)").as("mo"),
      expr("mode() WITHIN GROUP (ORDER BY value DESC)").as("mod"),
      graft.functions.functions.top_k(
        struct(col("value").as("v"), col("ts").as("t")), 3).as("top"))
  }

  test("incremental == full recompute for random tables, splits, queries") {
    // deterministic sampling (scalatestplus bridge unavailable offline)
    val params = Gen.Parameters.default
    (1 to 8).foreach { caseNo =>
      val c0 = genCase.pureApply(params, Seed(42L + caseNo))
      // rows/split stay random; the query INDEX cycles so every shape in
      // the whitelist runs at least once per suite execution
      val c = c0.copy(q = (caseNo - 1) % nQueries)
      val work = tmpDir(s"prop$caseNo")
      // ordered rows; split simulates time passing
      val sorted = c.rows.sortBy(_._1)
      val (early, late) = sorted.splitAt(c.splitIdx)
      val splitUs = late.head._1
      toDF(early).write.mode("overwrite").parquet(work)
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs),
        log = log))
      cold.run(query(c.q)(spark.read.parquet(work))).collect()
      toDF(late).write.mode("append").parquet(work)
      val warm = QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = log))
      val got = warm.run(query(c.q)(spark.read.parquet(work)))
        .collect().map(_.toSeq.map {
          case d: Double => f"${d + 0.0}%.6e" // 6 SIG digits; +0.0 folds -0.0
          case x => String.valueOf(x)
        }).map(_.mkString("|")).sorted.toSeq
      val want = query(c.q)(toDF(sorted))
        .collect().map(_.toSeq.map {
          case d: Double => f"${d + 0.0}%.6e" // 6 SIG digits; +0.0 folds -0.0
          case x => String.valueOf(x)
        }).map(_.mkString("|")).sorted.toSeq
      assert(got == want, s"query ${c.q} split ${c.splitIdx}: $got vs $want; " +
        s"log=${log.messages}")
      assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    }
  }

  test("incremental == full recompute with a declared-static union branch") {
    // randomized version of IncrementalAggSpec's static-union tests: the
    // static branch's rows span the WHOLE time range INCLUDING above the
    // watermark — the double-count hazard for the non-strict delta prune
    // and the pick-up-once band for strict mode — across random tables,
    // splits, and both strictUpperBound settings
    val params = Gen.Parameters.default
    (1 to 6).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(777L + caseNo))
      val strict = caseNo % 2 == 0
      val sorted = c.rows.sortBy(_._1)
      val (early, late) = sorted.splitAt(c.splitIdx)
      val splitUs = late.head._1
      val rng = new scala.util.Random(9000 + caseNo)
      val (lo, hi) = (sorted.head._1, sorted.last._1)
      val staticRows = (1 to 20).map { _ =>
        ((lo + rng.nextDouble() * (hi - lo + 1000000L)).toLong / 1000000L * 1000000L,
          services(rng.nextInt(services.size)),
          math.rint(rng.nextDouble() * 100))
      }
      val statDir = tmpDir(s"propstatic$caseNo")
      toDF(staticRows).write.mode("overwrite").parquet(statDir)
      val work = tmpDir(s"propunion$caseNo")
      toDF(early).write.mode("overwrite").parquet(work)
      def q(df: DataFrame) = df.select(col("ts"), col("value"))
        .union(spark.read.parquet(statDir).select(col("ts"), col("value")))
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      def cfg(now: Option[Long]) = QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = now,
        strictUpperBound = strict, log = log)
        .withStaticDimensions(new java.io.File(statDir).getName)
      QueryCacheSession(spark, cfg(Some(splitUs)))
        .run(q(spark.read.parquet(work))).collect()
      toDF(late).write.mode("append").parquet(work)
      // strict mode answers reflect rows with ts < now — pin the warm now
      // above every fact AND static timestamp so it equals the full table
      val warmNow = math.max(hi, staticRows.map(_._1).max) + 2000000L
      val got = QueryCacheSession(spark, cfg(Some(warmNow)))
        .run(q(spark.read.parquet(work)))
        .collect().map(_.toSeq.map {
          case d: Double => f"${d + 0.0}%.6e"
          case x => String.valueOf(x)
        }).map(_.mkString("|")).sorted.toSeq
      val want = q(toDF(sorted))
        .collect().map(_.toSeq.map {
          case d: Double => f"${d + 0.0}%.6e"
          case x => String.valueOf(x)
        }).map(_.mkString("|")).sorted.toSeq
      assert(got == want,
        s"strict=$strict split ${c.splitIdx}: $got vs $want; log=${log.messages}")
      assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    }
  }

  test("static-join state converges across a 4-run append chain") {
    // repeated warm merges over a declared-static dimension join: every
    // run after the first is a hit, and each must equal the vanilla
    // join+aggregate over everything written so far. The dim maps the
    // service key to a region with one service left UNMATCHED, so the
    // left join's null-extended group is exercised through the chain.
    import scala.jdk.CollectionConverters._
    val params = Gen.Parameters.default
    (1 to 3).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(31337L + caseNo))
      val dimSchema = StructType(Seq(
        StructField("svc", StringType),
        StructField("region", StringType)))
      val dimRows: Seq[Row] = services.dropRight(1).zipWithIndex.map {
        case (s, i) => Row(s, s"r${i % 2}")
      }
      val dimDir = tmpDir(s"chaindim$caseNo")
      spark.createDataFrame(dimRows.asJava, dimSchema)
        .write.mode("overwrite").parquet(dimDir)
      def q(df: DataFrame) = df
        .join(spark.read.parquet(dimDir), df("service") === col("svc"),
          "left_outer")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      val sorted = c.rows.sortBy(_._1).toVector
      val n = sorted.length
      val cuts = Seq(n / 4, n / 2, 3 * n / 4).distinct.filter(i => i > 0 && i < n)
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => sorted.slice(a, b) }.filter(_.nonEmpty).toSeq
      val work = tmpDir(s"chainjoin$caseNo")
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      var written = Vector.empty[(Long, String, Double)]
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        toDF(chunk).write.mode(if (k == 0) "overwrite" else "append").parquet(work)
        written ++= chunk
        val now = chunks.lift(k + 1).map(_.head._1)
        val sess = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
          .withStaticDimensions(new java.io.File(dimDir).getName))
        def render(df: DataFrame) = df.collect().map(_.toSeq.map {
          case d: Double => f"${d + 0.0}%.6e"
          case x => String.valueOf(x)
        }).map(_.mkString("|")).sorted.toSeq
        val got = render(sess.run(q(spark.read.parquet(work))))
        val want = render(q(toDF(written)))
        assert(got == want, s"chain step $k: $got vs $want; log=${log.messages}")
      }
      val hits = log.messages.count(_.startsWith("cache hit"))
      assert(hits >= chunks.length - 1,
        s"expected ${chunks.length - 1} warm hits, got $hits: ${log.messages}")
    }
  }

  test("factorized-join twins converge across a two-table append chain") {
    // both join sides GROW: each chunk splits into an A part and a B part
    // (either may be empty — a naturally one-sided append), and after
    // every step the cached answer must equal a full recompute over
    // everything written to both tables so far.
    val params = Gen.Parameters.default
    (1 to 3).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(777L + caseNo))
      val sorted = c.rows.sortBy(_._1).toVector
      val n = sorted.length
      val cuts = Seq(n / 4, n / 2, 3 * n / 4).distinct.filter(i => i > 0 && i < n)
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => sorted.slice(a, b) }.filter(_.nonEmpty).toSeq
      val workA = tmpDir(s"fjchainA$caseNo")
      val workB = tmpDir(s"fjchainB$caseNo")
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      def q(a: DataFrame, b: DataFrame) = a
        .join(b, a("service") === b("service"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"), sum(a("value")).as("sv"),
          min(b("value")).as("mb"))
      def render(df: DataFrame) = df.collect().map(_.toSeq.map {
        case d: Double => f"${d + 0.0}%.6e" // 6 SIG digits; +0.0 folds -0.0
        case x => String.valueOf(x)
      }).map(_.mkString("|")).sorted.toSeq
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        val (aIdx, bIdx) = chunk.zipWithIndex.partition(_._2 % 2 == 0)
        val (aPart, bPart) = (aIdx.map(_._1), bIdx.map(_._1))
        val mode = if (k == 0) "overwrite" else "append"
        toDF(aPart).write.mode(mode).parquet(workA)
        toDF(bPart).write.mode(mode).parquet(workB)
        val now = chunks.lift(k + 1).map(_.head._1)
        val sess = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = now, log = log))
        val got = render(sess.run(
          q(spark.read.parquet(workA), spark.read.parquet(workB))))
        val want = render(
          q(spark.read.parquet(workA), spark.read.parquet(workB)))
        assert(got == want,
          s"factjoin chain step $k: $got vs $want; log=${log.messages}")
      }
      assert(log.messages.count(_.startsWith("factorized join: answered")) ==
        chunks.length, log.messages)
      val hits = log.messages.count(_.startsWith("cache hit"))
      assert(hits >= 2 * (chunks.length - 1),
        s"expected ${2 * (chunks.length - 1)} twin hits, got $hits: ${log.messages}")
    }
  }

  test("banded durable row-view chain converges across runs with late rows") {
    // the REAL usage shape of refreshBand: band always on, every warm run
    // banded, late rows (within the tolerance) arriving one run after
    // their event time. Each run must equal vanilla over everything
    // delivered so far, and across the cases at least one banded refresh
    // must have kept a chain segment (segment-grain engaged, not the
    // full-put fallback).
    val params = Gen.Parameters.default
    var sawKeptSegments = false
    def render(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
      case d: Double => f"${d + 0.0}%.6e"
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq
    (1 to 3).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(1313L + caseNo))
      val sorted = c.rows.sortBy(_._1).toVector
      val n = sorted.length
      val cuts = Seq(n / 4, n / 2, 3 * n / 4).distinct.filter(i => i > 0 && i < n)
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => sorted.slice(a, b) }.filter(_.nonEmpty).toVector
      val bandUs = 600L * 1000000L
      val work = tmpDir(s"rowband$caseNo")
      val cacheDir = tmpDir(s"rowband-cache$caseNo")
      val log = new RecordingLog
      def q(df: DataFrame) = df.filter(col("value") > 0)
        .select(col("ts"), col("service"), col("value"))
      var delivered = Vector.empty[(Long, String, Double)]
      var held = Vector.empty[(Long, String, Double)]
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        val wm = chunks.lift(k + 1).map(_.head._1)
        // rows inside the last band/2 before this run's watermark arrive
        // LATE — one run after their event time, still inside the band
        val (lateNow, onTime) = wm match {
          case Some(w) => chunk.partition(r => r._1 >= w - bandUs / 2)
          case None => (Vector.empty[(Long, String, Double)], chunk)
        }
        val deliver = onTime ++ held
        held = lateNow.toVector
        toDF(deliver).write.mode(if (k == 0) "overwrite" else "append")
          .parquet(work)
        delivered ++= deliver
        val cfg = QueryCacheConfig(new graft.cache.ParquetQueryCache(cacheDir),
          defaultTemporalColumn = "ts", overrideNowMicros = wm, log = log)
          .copy(lateRescanBandMicros = Some(bandUs))
        val got = render(QueryCacheSession(spark, cfg)
          .run(q(spark.read.parquet(work))).collect())
        val want = render(q(toDF(delivered)).collect())
        assert(got == want,
          s"rowband case $caseNo step $k: $got vs $want; log=${log.messages}")
      }
      assert(held.isEmpty) // the last chunk has no watermark to hold past
      val hits = log.messages.count(_.startsWith("cache hit (rows)"))
      assert(hits >= chunks.length - 1,
        s"expected ${chunks.length - 1} warm row hits, got $hits: " +
          log.messages.toString)
      // did any banded refresh keep a segment? (head meta extraDataDirs)
      val kept = Option(new java.io.File(cacheDir).listFiles()).toSeq.flatten
        .filter(_.isDirectory).exists { entry =>
          val metas = entry.listFiles().map(_.getName)
            .filter(m => m.startsWith("meta-") && m.endsWith(".json"))
          metas.nonEmpty && {
            val head = metas.maxBy(
              _.stripPrefix("meta-").stripSuffix(".json").toLong)
            val json = new String(java.nio.file.Files.readAllBytes(
              new java.io.File(entry, head).toPath))
            json.split("\"extraDataDirs\":\"").last.takeWhile(_ != '"').nonEmpty
          }
        }
      sawKeptSegments ||= kept
    }
    assert(sawKeptSegments,
      "no case ever kept a chain segment across a banded refresh — " +
        "segment-grain never engaged, every run fell back to a full put")
  }

  test("durable chained aggregates converge across runs for every query shape") {
    // every random query shape (sums, raw-sums stats, distinct sets,
    // bit/bool folds, percentile histograms, mode, top-k heaps) through
    // the DURABLE cache's O(append) chain: chunk sizes 50/10/10/30% so
    // the small middle appends chain (delta fraction < 25%) and the big
    // final append trips the compaction rule — both commit paths see
    // every state type, and each run must equal vanilla.
    val params = Gen.Parameters.default
    def render(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
      case d: Double => f"${d + 0.0}%.6e"
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq
    (0 until nQueries).foreach { qi =>
      val c = genCase.pureApply(params, Seed(777L + qi))
      val sorted = c.rows.sortBy(_._1).toVector
      val n = sorted.length
      val cuts = Seq(n / 2, 6 * n / 10, 7 * n / 10)
        .distinct.filter(i => i > 0 && i < n)
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => sorted.slice(a, b) }.filter(_.nonEmpty).toSeq
      val work = tmpDir(s"durchain-q$qi")
      val cacheDir = tmpDir(s"durchain-cache-q$qi")
      val log = new RecordingLog
      var written = Vector.empty[(Long, String, Double)]
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        toDF(chunk).write.mode(if (k == 0) "overwrite" else "append")
          .parquet(work)
        written ++= chunk
        val now = chunks.lift(k + 1).map(_.head._1)
        val sess = QueryCacheSession(spark, QueryCacheConfig(
          new graft.cache.ParquetQueryCache(cacheDir),
          defaultTemporalColumn = "ts", overrideNowMicros = now, log = log))
        val got = render(sess.run(query(qi)(spark.read.parquet(work)))
          .collect())
        val want = render(query(qi)(toDF(written)).collect())
        assert(got == want,
          s"query $qi durable chain step $k: $got vs $want; " +
            s"log=${log.messages}")
      }
      val hits = log.messages.count(_.startsWith("cache hit"))
      assert(hits >= chunks.length - 1,
        s"query $qi: expected ${chunks.length - 1} warm hits, got $hits: " +
          log.messages.toString)
    }
  }

  test("state converges across a 4-run append chain (every run a hit)") {
    val params = Gen.Parameters.default
    (1 to 3).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(4242L + caseNo))
      val sorted = c.rows.sortBy(_._1).toVector
      val n = sorted.length
      val cuts = Seq(n / 4, n / 2, 3 * n / 4).distinct.filter(i => i > 0 && i < n)
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => sorted.slice(a, b) }.filter(_.nonEmpty).toSeq
      val work = tmpDir(s"chain$caseNo")
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      var written = Vector.empty[(Long, String, Double)]
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        toDF(chunk).write.mode(if (k == 0) "overwrite" else "append").parquet(work)
        written ++= chunk
        // this run's "now": the next chunk's first timestamp (all present
        // rows are below it, all future rows at/after it); wall clock
        // suffices for the final run
        val now = chunks.lift(k + 1).map(_.head._1)
        val sess = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = now, log = log))
        val got = sess.run(query(c.q)(spark.read.parquet(work)))
          .collect().map(_.toSeq.map {
            case d: Double => f"${d + 0.0}%.6e" // 6 SIG digits; +0.0 folds -0.0
            case x => String.valueOf(x)
          }).map(_.mkString("|")).sorted.toSeq
        val want = query(c.q)(toDF(written))
          .collect().map(_.toSeq.map {
            case d: Double => f"${d + 0.0}%.6e" // 6 SIG digits; +0.0 folds -0.0
            case x => String.valueOf(x)
          }).map(_.mkString("|")).sorted.toSeq
        assert(got == want,
          s"query ${c.q} chain step $k: $got vs $want; log=${log.messages}")
      }
      val hits = log.messages.count(_.startsWith("cache hit"))
      assert(hits >= chunks.length - 1,
        s"expected ${chunks.length - 1} warm hits, got $hits: ${log.messages}")
    }
  }

  test("subsumption: a warm twin serves each lattice shape along the expected probe path") {
    // Random (warm source, target) pairs over the lattice the subsumption
    // search covers: time grain × an extra declared dimension (seg) × a
    // slice on a declared dimension (event_type) × a measure subset × an
    // aligned ts range. The target is drawn first; each applicable step
    // then either holds or is undone in the source, and the search must
    // serve the target from the source along exactly those steps, in the
    // order the composition table visits them.
    val dayUs = 86400L * 1000000L
    val t0 = 1704067200L * 1000000L // 2024-01-01 00:00 UTC
    val latSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("seg", StringType),
      StructField("value", LongType)))
    val measures = Seq(count(lit(1)).as("cnt"), sum("value").as("sv"),
      min("value").as("mn"), max("value").as("mx"))
    // `keys`: the dimension keys after the time bucket, in grouping order
    case class Shape(hourly: Boolean, keys: Seq[String], sliced: Boolean,
        ranged: Boolean, ms: Seq[Int]) {
      def df(lo: Long, hi: Long)(t: DataFrame): DataFrame = {
        val conds = (if (sliced) Seq(col("event_type") === "click") else Nil) ++
          (if (ranged) Seq(col("ts") >= timestamp_micros(lit(lo)),
            col("ts") < timestamp_micros(lit(hi))) else Nil)
        val in = if (conds.isEmpty) t else t.filter(conds.reduce(_ && _))
        val b = date_trunc(if (hourly) "hour" else "day", col("ts")).as("b")
        val ag = ms.map(measures)
        in.groupBy(b +: keys.map(col): _*).agg(ag.head, ag.tail: _*)
      }
    }
    case class Pair(rows: Seq[(Long, String, String, Long)], splitUs: Long,
        lo: Long, hi: Long, target: Shape, steps: Set[String])
    val genPair: Gen[Pair] = for {
      n <- Gen.choose(60, 160)
      offs <- Gen.listOfN(n, Gen.choose(0L, 6 * 86400L - 1))
      ets <- Gen.listOfN(n, Gen.oneOf("click", "view", "buy"))
      segs <- Gen.listOfN(n, Gen.oneOf("a", "b"))
      vals <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      splitDay <- Gen.choose(3, 5)
      loDay <- Gen.choose(0, 4)
      hiDay <- Gen.choose(loDay + 1, 6)
      hourly <- Gen.oneOf(true, false)
      bySeg <- Gen.oneOf(true, false)
      sliced <- Gen.oneOf(true, false)
      ranged <- Gen.oneOf(true, false)
      ms <- Gen.atLeastOne(measures.indices).map(_.toSeq.sorted)
      undo <- Gen.listOfN(5, Gen.oneOf(true, false))
    } yield {
      val applicable = Seq("rerange" -> ranged, "refilter" -> sliced,
        "redim" -> !bySeg, "regrain" -> !hourly,
        "remeasure" -> (ms.size < measures.size))
      Pair(offs.lazyZip(ets).lazyZip(segs).lazyZip(vals).toSeq.map {
          case (o, e, sg, v) => (t0 + o * 1000000L, e, sg, v) },
        t0 + splitDay * dayUs, t0 + loDay * dayUs, t0 + hiDay * dayUs,
        Shape(hourly, if (bySeg) Seq("seg") else Nil, sliced, ranged, ms),
        applicable.zip(undo).collect { case ((st, true), true) => st }.toSet)
    }
    // refilter then redim each append their key, in that order
    def sourceOf(t: Shape, steps: Set[String]): Shape = t.copy(
      hourly = t.hourly || steps("regrain"),
      keys = t.keys ++ Seq("event_type" -> "refilter", "seg" -> "redim")
        .collect { case (k, st) if steps(st) => k },
      sliced = t.sliced && !steps("refilter"),
      ranged = t.ranged && !steps("rerange"),
      ms = if (steps("remeasure")) measures.indices else t.ms)
    def latDF(rows: Seq[(Long, String, String, Long)]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map { case (t, e, sg, v) =>
        Row(new java.sql.Timestamp(t / 1000), e, sg, v) }.asJava, latSchema)
    }
    def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val params = Gen.Parameters.default
    val paths = (1 to 14).map { caseNo =>
      val p0 = genPair.pureApply(params, Seed(4242L + caseNo))
      // the first case takes every step: the longest path in the lattice
      val p = if (caseNo > 1) p0 else p0.copy(
        target = Shape(hourly = false, keys = Nil, sliced = true,
          ranged = true, ms = Seq(0)),
        steps = Set("rerange", "refilter", "redim", "regrain", "remeasure"))
      val source = sourceOf(p.target, p.steps)
      val (early, late) = p.rows.partition(_._1 < p.splitUs)
      val work = tmpDir(s"proplattice$caseNo")
      latDF(early).write.mode("overwrite").parquet(work)
      val cache = new MemoryQueryCache()
      val log = new RecordingLog
      def cfg(now: Option[Long]) = QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
        .withRedimDimensions("event_type", "seg")
      QueryCacheSession(spark, cfg(Some(p.splitUs)))
        .run(source.df(p.lo, p.hi)(spark.read.parquet(work))).collect()
      latDF(late).write.mode("append").parquet(work)
      log.clear()
      val got = rowsOf(QueryCacheSession(spark, cfg(None))
        .run(p.target.df(p.lo, p.hi)(spark.read.parquet(work))))
      val want = rowsOf(p.target.df(p.lo, p.hi)(latDF(p.rows)))
      val ctx = s"case $caseNo target ${p.target} steps ${p.steps}: ${log.messages}"
      assert(got == want, s"$got vs $want; $ctx")
      assert(log.messages.exists(_.startsWith("cache hit")), ctx)
      val expected = Seq("rerange", "refilter", "redim", "regrain", "remeasure")
        .filter(p.steps)
      val served = log.messages.filter(_.startsWith("probe path: "))
      if (expected.isEmpty) assert(served.isEmpty, ctx)
      else assert(served == Seq(s"probe path: ${expected.mkString(" > ")}"), ctx)
      expected.length
    }
    assert(paths.max == 5 && paths.count(_ > 1) >= 3, paths)
  }
}
