package qcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryCacheConfig, QueryCacheSession}
import graft.cache.ParquetQueryCache
import graft.log.CacheLog

/** One op of a workload, built on the table state it must see: its query
  * runs cached through `qcs` and then vanilla for the answer check. */
final case class Op(qcs: QueryCacheSession, query: DataFrame,
    deltaRows: Long, label: String = "")

/** A workload owns its generated table and its durable cache. `generate`
  * and `prime` make both from scratch; `nextOp` yields the next op,
  * appending its batch first where the workload appends. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val log: CacheLog) {
  def warmUpOps: Int
  /** the timed loop runs at least this many ops, whatever the deadline */
  def minOps: Int
  /** the timed loop stops only after a multiple of this many ops */
  def opsPerRound: Int
  def sizes: Map[String, Any]

  protected var dir: String = _
  var cache: ParquetQueryCache = _
  var historyRows = 0L

  def tableDir: String = s"$dir/table"
  def cacheDir: String = s"$dir/cache"
  protected def pendingDir: String = s"$dir/pending"

  protected def newCache(): ParquetQueryCache =
    new ParquetQueryCache(s"${CacheFs.Scheme}://$cacheDir")

  protected def config(nowMicros: Long): QueryCacheConfig =
    QueryCacheConfig(cache, defaultTemporalColumn = "ts",
      overrideNowMicros = Some(nowMicros), log = log)
      .withTemporalPartitioning("ts_day")

  /** Fresh table (and an empty cache) under `dir`. */
  def generate(dir: String): Unit
  /** Cold runs that fill the cache before any op. */
  def prime(): Unit
  def nextOp(): Option[Op]
}

object Workload {
  val names: Seq[String] = Seq("tail_refresh", "adhoc_explore")

  def apply(name: String, spark: SparkSession, seed: Long,
      log: CacheLog): Workload = name match {
    case "tail_refresh" => new TailRefresh(spark, seed, log)
    case "adhoc_explore" => new AdhocExplore(spark, seed, log)
    case other => sys.error(s"unknown workload $other")
  }

  def sumDec: org.apache.spark.sql.Column =
    sum(col("value").cast("decimal(14,3)"))
}

/** The paper's core loop: one dashboard aggregate on a durable cache,
  * refreshed after every append of a time slice of ~`batchFrac` of the
  * history (delta scan, merge, a putAppend segment and, every
  * `ChainMax` ops, the compaction of the chain by a full put). Every
  * refresh runs with the clock frozen at the end of the batch just
  * appended, and cold priming at the split point. */
final class TailRefresh(spark: SparkSession, seed: Long, log: CacheLog)
    extends Workload(spark, seed, log) {
  val mult = 4
  val historyDays = 26
  val batchFrac = 0.005
  /** Append-chain length at which the cache compacts. The default (64)
    * is out of reach of a short run; at 5 the chain compacts on every
    * fifth op, and the appends in between read a chain of one to four
    * segments. The period is odd, so a traced run (every other op)
    * traces compactions and plain appends alike. */
  val ChainMax = 5
  // one period, so the timed loop starts just after a compaction
  def warmUpOps: Int = ChainMax
  // three periods, and whole periods after that: every run sees the same
  // mix of chain lengths and compactions
  def minOps: Int = 3 * ChainMax
  def opsPerRound: Int = ChainMax

  val splitMicros: Long = Data.StartMicros + historyDays * Data.DayMicros
  private var batchRows = Vector.empty[Long]
  private var ends = Vector.empty[Long]
  private var next = 0

  override protected def newCache(): ParquetQueryCache =
    new ParquetQueryCache(s"${CacheFs.Scheme}://$cacheDir",
      appendChainMax = ChainMax)

  def query(t: DataFrame): DataFrame =
    t.groupBy(date_trunc("day", col("ts")).as("day"),
        expr("event_id DIV 64").as("ent"))
      .agg(count(lit(1)).as("cnt"), Workload.sumDec.as("sv"))

  def generate(d: String): Unit = {
    dir = d
    cache = newCache()
    val bounds = Data.boundaries(seed, splitMicros,
      (historyDays * Data.DayMicros * batchFrac).toLong)
    val (h, b) = Data.write(spark, seed, mult, tableDir, pendingDir, bounds)
    historyRows = h
    batchRows = b
    ends = bounds.tail
    next = 0
  }

  def prime(): Unit =
    QueryCacheSession(spark, config(splitMicros))
      .run(query(Data.readTable(spark, tableDir))).collect()

  def nextOp(): Option[Op] =
    if (next >= batchRows.size) None
    else {
      val k = next
      next += 1
      Data.append(spark, pendingDir, tableDir, k)
      Some(Op(QueryCacheSession(spark, config(ends(k))),
        query(Data.readTable(spark, tableDir)), batchRows(k)))
    }

  def sizes: Map[String, Any] = Map("mult" -> mult,
    "history_days" -> historyDays, "history_rows" -> historyRows,
    "batch_frac_of_history" -> batchFrac, "batches_available" -> batchRows.size,
    "append_chain_max" -> ChainMax, "views" -> 1)
}

/** One ad-hoc aggregate shape: a time grain, extra keys, a measure set and
  * an optional filter. `intent` is the kind of service the shape was
  * drawn for; the op's actual service is read from the cache log. */
final case class Shape(intent: String, grain: String, keys: Seq[String],
    measures: Seq[String], filter: Option[String]) {
  def df(t: DataFrame): DataFrame = {
    val in = filter.fold(t)(p => t.filter(expr(p)))
    val groups = date_trunc(grain, col("ts")).as(grain) +: keys.map(col)
    val aggs = measures.map {
      case "cnt" => count(lit(1)).as("cnt")
      case "sv" => Workload.sumDec.as("sv")
      case "mn" => min("value").as("mn")
      case "mx" => max("value").as("mx")
      case "nl" => size(collect_list(col("event_type"))).as("nl")
    }
    in.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*)
  }
}

/** No appends. Two panel states are cold-primed; then a seeded sequence
  * of never-repeated shapes, in rounds of five: two derivable from the
  * hourly panel, one from the daily per-user panel (subsumption probes:
  * regrain, redim, remeasure, refilter), one true miss (a `value > t`
  * filter no state covers: full scan and a full-state put) and one that
  * is not cacheable (`collect_list`: bail, then vanilla). Even and odd
  * rounds differ in grains and keys; the timed loop runs a fixed three
  * rounds (even, odd, even), so every run sees the same mix. The warm-up
  * shapes are an even round of their own ahead of the timed ones. The
  * rounds do not repeat in cost: each miss leaves one more state for
  * later probes to search. */
final class AdhocExplore(spark: SparkSession, seed: Long, log: CacheLog)
    extends Workload(spark, seed, log) {
  val mult = 2
  val Rounds = 3
  def warmUpOps: Int = warmShapes.size
  def minOps: Int = shapes.size
  def opsPerRound: Int = shapes.size

  private val panelA = Shape("panel", "hour", Seq("event_type"),
    Seq("cnt", "sv", "mn", "mx"), None)
  private val panelB = Shape("panel", "day", Seq("user_id"),
    Seq("cnt", "sv", "mn", "mx"), None)

  /** Every round has the same order of kinds, and the structure (grain,
    * keys, filter kind, measure count and, where a state is large,
    * measure types) depends only on the round's parity, for every seed,
    * so the state sizes an op reads and writes do not depend on the seed.
    * The seed picks the measures, the `event_type` literal and the miss
    * thresholds; no shape repeats. */
  private def round(even: Boolean, threshold: Int,
      rnd: scala.util.Random): Seq[() => Shape] = {
    def some(pool: Seq[String], n: Int): Seq[String] = {
      val chosen = rnd.shuffle(pool).take(n).toSet
      pool.filter(chosen)
    }
    def et: Seq[String] = Seq("event_type")
    Seq(
      // hourly panel: regrain + redim + refilter
      () => Shape("probe", if (even) "hour" else "day", Nil,
        some(panelA.measures, 2),
        Some(s"event_type = '${Data.EventTypes(rnd.nextInt(5))}'")),
      () => Shape("miss", if (even) "day" else "week",
        if (even) et else Nil, Seq("sv", "mx"), Some(s"value > $threshold")),
      // daily per-user panel: regrain + remeasure
      () => Shape("probe", if (even) "week" else "day", Seq("user_id"),
        some(Seq("sv", "mn", "mx"), 2), None),
      () => Shape("bail", if (even) "week" else "hour",
        if (even) Nil else et,
        Seq(Seq("nl"), Seq("cnt", "nl"), Seq("nl", "sv"), Seq("nl", "mx"))(rnd.nextInt(4)),
        None),
      // hourly panel: regrain + remeasure
      () => Shape("probe", if (even) "day" else "week", et,
        some(panelA.measures, 2), None))
  }

  /** (warm-up shapes, timed shapes) */
  val (warmShapes, shapes): (Vector[Shape], Vector[Shape]) = {
    val rnd = new scala.util.Random(seed * 104729L + 3L)
    val thresholds = rnd.shuffle((30 until 90).toVector)
    val seen = scala.collection.mutable.Set(panelA.copy(intent = ""),
      panelB.copy(intent = ""))
    def draw(make: () => Shape): Shape =
      Iterator.continually(make()).take(1000)
        .find(sh => seen.add(sh.copy(intent = "")))
        .getOrElse(sys.error("ran out of distinct ad-hoc shapes"))
    // one round of every kind, so each path is compiled before timing
    val warm = round(even = true, thresholds(Rounds), rnd).map(draw)
    val timed = (0 until Rounds).flatMap(r =>
      round(r % 2 == 0, thresholds(r), rnd).map(draw))
    (warm.toVector, timed.toVector)
  }

  private var next = 0
  private var qcs: QueryCacheSession = _

  def generate(d: String): Unit = {
    dir = d
    cache = newCache()
    historyRows = Data.write(spark, seed, mult, tableDir, pendingDir,
      Vector(Data.EndMicros))._1
    next = 0
    qcs = QueryCacheSession(spark, config(Data.EndMicros)
      .withRedimDimensions("event_type", "user_id"))
  }

  def prime(): Unit = {
    val t = Data.readTable(spark, tableDir)
    Seq(panelA, panelB).foreach(p => qcs.run(p.df(t)).collect())
  }

  def nextOp(): Option[Op] = {
    val all = warmShapes ++ shapes
    if (next >= all.size) None
    else {
      val s = all(next)
      next += 1
      Some(Op(qcs, s.df(Data.readTable(spark, tableDir)), 0L, s.toString))
    }
  }

  def sizes: Map[String, Any] = Map("mult" -> mult, "history_days" -> Data.BaseDays,
    "history_rows" -> historyRows, "warm_up_shapes" -> warmShapes.size,
    "shapes_available" -> shapes.size, "panels" -> 2)
}
