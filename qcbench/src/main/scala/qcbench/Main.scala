package qcbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM, one closed-loop client.
  *
  * Set-up (timed as `setup_s`): session start, table generation, cold
  * priming and the untimed warm-up ops, once, from scratch. The timed
  * loop then runs ops for `--seconds` (and at least the workload's
  * `minOps`), up to a whole round of the workload. Every op is checked
  * against vanilla. With `--trace 0` the result holds the end-to-end
  * metrics; with `--trace 1` every other op is traced and the result
  * holds the per-layer metrics. */
object Main {
  /** timed ops after which the cache's footprint is taken */
  val FootprintOps = 5

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, result: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--work"), get("--out"), get("--result"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.names.contains(o.workload), s"unknown workload ${o.workload}")
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"qcbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .config(s"spark.hadoop.fs.${CacheFs.Scheme}.impl", classOf[CacheFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try run(spark, o, t0)
      finally spark.stop()
    sys.exit(code)
  }

  /** Linearly interpolated quantile (0 for no samples). */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def run(spark: SparkSession, o: Opts, t0: Long): Int = {
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter(sc)
    sc.addSparkListener(meter)
    val tracer = new Tracer(sc)
    val log = new OpLog
    val wl = Workload(o.workload, spark, o.seed, log)
    val runner = new Runner(spark, wl, tracer, log)
    val recs = ArrayBuffer.empty[OpRec]

    // ---- set-up: one from scratch, as a user meets it (cold JIT included)
    val t1 = System.nanoTime()
    wl.generate(o.work + "/run")
    val t2 = System.nanoTime()
    wl.prime()
    val t3 = System.nanoTime()
    for (i <- 0 until wl.warmUpOps; op <- wl.nextOp())
      recs += runner.runOp(op, -(i + 1), timed = false, traced = false)
    val t4 = System.nanoTime()
    val setUpParts = ListMap("generate_s" -> (t2 - t1) / 1e9,
      "prime_s" -> (t3 - t2) / 1e9, "warm_up_s" -> (t4 - t3) / 1e9)
    val setupS = (t4 - t0) / 1e9

    // ---- timed closed loop
    val st = wl.cache.stats
    val (h0, m0, b0) = (st.hits, st.misses, st.bails)
    val loopStart = System.nanoTime()
    val deadline = loopStart + (o.seconds * 1e9).toLong
    val hardStop = loopStart + (math.max(3 * o.seconds, 60.0) * 1e9).toLong
    var i = 0
    var exhausted = false
    // cache and table bytes after exactly FootprintOps timed ops, so the
    // space ratio does not depend on how many ops the host's speed allowed
    var footprint = (0L, 1L)
    while (!exhausted && System.nanoTime() < hardStop &&
        (System.nanoTime() < deadline || i < wl.minOps || i % wl.opsPerRound != 0)) {
      wl.nextOp() match {
        case Some(op) =>
          recs += runner.runOp(op, i, timed = true, traced = o.trace && i % 2 == 0)
          i += 1
          if (i == FootprintOps) footprint = (dirBytes(spark, wl.cacheDir),
            math.max(1L, dirBytes(spark, wl.tableDir)))
        case None => exhausted = true
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val (hits, misses, bails) = (st.hits - h0, st.misses - m0, st.bails - b0)

    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)

    import spark.implicits._
    val described = wl.cache.describe(spark)
      .select($"state_bytes", $"segments").as[(Long, Int)].collect()
    // describe() reports -1 where an implementation does not track a field
    val stateBytes = described.map(_._1).filter(_ > 0).sum
    val segments = described.map(_._2.toLong).filter(_ > 0).sum
    meter.drain()

    val timed = recs.filter(_.timed).toSeq
    val attempted = recs.size
    val failed = recs.count(!_.ok)
    val jobs = meter.snapshot()
    val m = new Metrics(timed, jobs, tracer.all)

    val n = timed.size
    val lat = timed.map(_.cachedS).sorted
    // p75: with 15 ops a run, no percentile above the median has ten
    // samples beyond it, and p90 is about the two slowest ops; the report
    // records how many samples lie beyond
    val tailS = quantile(lat, 0.75)
    val tailBeyond = lat.count(_ > tailS)
    val vanillaRows = m.legRows("v")
    val cachedRows = m.legRows("c")

    val perOp = math.max(1, n).toDouble
    val writtenPerOp = timed.map(_.cacheBytesWritten).sum / perOp
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tailS, "s"),
      // total over total: a median of per-op ratios jumps between the
      // kinds of op an ad-hoc mix holds
      ("speedup_vs_vanilla", timed.map(_.vanillaS).sum / math.max(1e-9, timed.map(_.cachedS).sum), "x"),
      ("scan_reduction", vanillaRows.toDouble / math.max(1L, cachedRows), "x"),
      ("cache_write_bytes_per_op", writtenPerOp, "B"),
      ("cache_space_ratio", footprint._1.toDouble / footprint._2, "x"),
      ("heap_after_gc_mb", heapMb, "MB"),
      ("ops_ok_frac", 1.0 - failed.toDouble / math.max(1, attempted), "ratio"))

    val services = timed.map(_.service)
    def share(s: String) = services.count(_ == s).toDouble / math.max(1, n)
    val tracedRecs = timed.filter(_.traced)
    val traced = tracedRecs.map(_.idx)
    val untracedP50 = median(timed.filterNot(_.traced).map(_.cachedS))
    val rewriteS = median(traced.map(m.spanSum(_, "exec.rewrite")))
    val answerS = median(traced.map(m.spanSum(_, "exec.answer")))
    val perLayer: Seq[(String, Double, String)] = Seq(
      ("exec.rewrite_s", rewriteS, "s"),
      ("exec.rewrite_jobs", median(traced.map(m.jobCount(_, "exec.rewrite").toDouble)), "count"),
      ("exec.rewrite_driver_s", median(traced.map(m.driverTime(_, "exec.rewrite"))), "s"),
      ("exec.answer_s", answerS, "s"),
      ("exec.answer_jobs", median(traced.map(m.jobCount(_, "exec.answer").toDouble)), "count"),
      ("exec.rewritten_frac",
        tracedRecs.count(_.rewritten).toDouble / math.max(1, tracedRecs.size), "ratio"),
      ("exec.jobs_per_op", m.moduleJobs("c", "exec") / perOp, "count"),
      ("cache.jobs_per_op", m.moduleJobs("c", "cache") / perOp, "count"),
      ("spark.jobs_per_op", m.moduleJobs("c", "spark") / perOp, "count"),
      ("cache.hits", hits.toDouble, "count"),
      ("cache.misses", misses.toDouble, "count"),
      ("cache.bails", bails.toDouble, "count"),
      ("cache.hit_frac", hits.toDouble / math.max(1L, hits + misses + bails), "ratio"),
      ("cache.direct_frac", share("hit"), "ratio"),
      ("cache.probe_frac", share("probe"), "ratio"),
      ("cache.miss_frac", share("miss"), "ratio"),
      ("cache.bail_frac", share("bail"), "ratio"),
      ("cache.bytes_read_per_op", timed.map(_.cacheBytesRead).sum / perOp, "B"),
      ("cache.bytes_written_per_op", writtenPerOp, "B"),
      ("cache.write_ops_per_op", timed.map(_.cacheWriteOps).sum / perOp, "count"),
      ("cache.segments", segments.toDouble, "count"),
      ("cache.state_bytes", stateBytes.toDouble, "B"),
      ("spark.tasks_per_op", m.legSum("c")(_.tasks.toLong) / perOp, "count"),
      ("spark.rows_read_per_op", cachedRows / perOp, "count"),
      ("spark.shuffle_bytes_per_op", m.legSum("c")(_.shuffleBytes) / perOp, "B"),
      ("spark.cpu_s_per_op", m.legSum("c")(_.cpuNs) / 1e9 / perOp, "s"),
      ("spark.sched_delay_s_per_op", m.legSum("c")(_.schedDelayMs) / 1e3 / perOp, "s"),
      ("log.fallbacks", timed.map(_.fallbacks).sum.toDouble, "count"),
      ("log.not_cached", timed.map(_.notCached).sum.toDouble, "count"),
      ("trace.op_p50_s", median(tracedRecs.map(_.cachedS)), "s"),
      ("trace.overhead_s", median(tracedRecs.map(_.cachedS)) - untracedP50, "s"),
      ("trace.accounted_frac", (rewriteS + answerS) / math.max(1e-9, untracedP50), "ratio"))

    def figures(xs: Seq[(String, Double, String)]) = ListMap(xs.map(t => t._1 -> t._2): _*)
    val reported = if (o.trace) perLayer else endToEnd
    write(o.result, ListMap(
      "correct" -> (failed == 0 && n > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(reported.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*)))

    val tag = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}"
    val serviceCounts = ListMap(services.distinct.sorted.map(s =>
      s -> services.count(_ == s)): _*)
    write(s"${o.out}/report-$tag.json", ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "sizes" -> wl.sizes,
      "session_s" -> sessionS, "set_up" -> setUpParts, "loop_s" -> loopS,
      "loop_exhausted_input" -> exhausted,
      "ops_n" -> n, "op_tail_percentile" -> 75, "op_tail_samples_beyond" -> tailBeyond,
      "services" -> serviceCounts,
      "end_to_end" -> figures(endToEnd),
      "per_layer" -> figures(perLayer),
      "op_p50_s_by_service" -> ListMap(timed.groupBy(_.service).toSeq.sortBy(_._1)
        .map { case (k, rs) => k -> median(rs.map(_.cachedS)) }: _*),
      "ops" -> recs.map(r => ListMap("idx" -> r.idx, "label" -> r.label,
        "timed" -> r.timed, "traced" -> r.traced, "cached_s" -> r.cachedS,
        "vanilla_s" -> r.vanillaS, "ok" -> r.ok, "service" -> r.service,
        "delta_rows" -> r.deltaRows, "cache_bytes_written" -> r.cacheBytesWritten,
        "error" -> r.error.getOrElse(""))).toSeq))
    if (o.trace) write(s"${o.out}/trace-$tag.json", m.traceJson)

    System.err.println(s"[qcbench] ${o.workload} seed=${o.seed}: setup " +
      f"$setupS%.2fs (session $sessionS%.2fs, ${setUpParts.map(kv => f"${kv._1} ${kv._2}%.2fs").mkString(", ")}), " +
      f"$n ops in $loopS%.1fs, p50 ${median(lat)}%.3fs, p75 $tailS%.3fs, " +
      s"services ${serviceCounts.map(kv => s"${kv._1}=${kv._2}").mkString(",")}, " +
      s"failed $failed/$attempted")
    if (failed == 0 && n > 0) 0 else 1
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, body: Any): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, body)
  }
}

/** Derived figures over the timed ops, their Spark jobs and spans. */
final class Metrics(timed: Seq[OpRec], jobs: Seq[JobStat], spans: Seq[Span]) {
  private val timedIdx = timed.map(_.idx).toSet
  private def legOf(j: JobStat): Option[(String, Int)] =
    if (j.leg.length > 1 && (j.leg.head == 'c' || j.leg.head == 'v'))
      j.leg.tail.toIntOption.filter(timedIdx.contains).map(j.leg.head.toString -> _)
    else None
  private val byLeg = jobs.flatMap(j => legOf(j).map(_ -> j)).groupBy(_._1)
    .map { case (k, v) => k -> v.map(_._2) }
  private val bySpan = jobs.groupBy(_.span)

  def legSum(kind: String)(f: JobStat => Long): Long =
    byLeg.collect { case ((k, _), js) if k == kind => js.map(f).sum }.sum
  def legRows(kind: String): Long = legSum(kind)(_.rowsRead)

  /** Module of a job, from the file of its call site. */
  def module(j: JobStat): String = {
    val file = """at (\w+)\.scala""".r.findFirstMatchIn(j.callSite).map(_.group(1))
    file match {
      case Some("QueryCache") => "cache"
      case Some("CacheLog") => "log"
      case Some("IncrementalAggExecutor" | "SharedDelta" | "Decompose" |
          "Fingerprint" | "NowBounds" | "Stability" | "TemporalGroupBy" |
          "CacheReplay") => "exec"
      case Some("Runner" | "Workloads" | "Data" | "Main" | "Meter") => "bench"
      // Spark or JDK frames, e.g. adaptive query stages submitted from
      // Spark's own thread pool
      case _ => "spark"
    }
  }
  def moduleJobs(kind: String, mod: String): Double =
    byLeg.collect { case ((k, _), js) if k == kind => js.count(module(_) == mod) }.sum

  private val spansByOp = spans.groupBy(_.op)
  private def named(op: Int, name: String) =
    spansByOp.getOrElse(op, Nil).filter(_.name == name)

  def spanSum(op: Int, name: String): Double = named(op, name).map(_.durS).sum
  def jobCount(op: Int, name: String): Int =
    named(op, name).map(s => bySpan.getOrElse(s.id, Nil).size).sum

  /** Span time not covered by any Spark job tagged with the span. */
  def driverTime(op: Int, name: String): Double = named(op, name).map { s =>
    val iv = bySpan.getOrElse(s.id, Nil).filter(_.endMs >= 0).map(j =>
      (math.max(s.startNs, j.startMs * 1000000L), math.min(s.endNs, j.endMs * 1000000L)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0L, s.endNs - s.startNs - covered) / 1e9
  }.sum

  def traceJson: Map[String, Any] = ListMap(
    "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)),
    "jobs" -> jobs.map(j => ListMap("job" -> j.jobId,
      "span" -> j.span, "leg" -> j.leg, "call_site" -> j.callSite,
      "module" -> module(j), "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "tasks" -> j.tasks, "rows_read" -> j.rowsRead,
      "shuffle_bytes" -> j.shuffleBytes, "cpu_ns" -> j.cpuNs)))
}
