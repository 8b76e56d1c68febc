package qcbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Layouts

/** Seeded input generator.
  *
  * The base table has the shape of the sf0.1 `events` table: 100,000
  * rows over 30 days of January 2024, `event_id` rising with `ts`, 1,500
  * users, 5 event types and an exponential `value` (mean 50, two
  * decimals). It is computed from the seed rather than read from disk,
  * so the benchmark needs nothing outside its checkout. The base is then
  * multiplied the way `graft.Bench` builds its history: range-partition
  * by `ts`, explode ×mult within each partition (no multiplied row is
  * shuffled), and write with `Layouts.writeTimeSeriesPartitioned`. The
  * seed picks every value, the per-copy value jitter and (in the
  * workloads) the batch boundaries and query order. */
object Data {
  val StartMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val DayMicros = 86400000000L
  val BaseDays = 30
  val BaseRows = 100000L
  val EndMicros: Long = StartMicros + BaseDays * DayMicros
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("ts_day", DateType)))

  private def h(seed: Long, c: String, k: Int) =
    xxhash64(lit(seed), col(c), lit(k))

  def base(spark: SparkSession, seed: Long): DataFrame = {
    val step = BaseDays * DayMicros / BaseRows
    val u = (pmod(h(seed, "id", 4), lit(1000000L)) + 1) / 1000001.0
    spark.range(BaseRows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(StartMicros) + col("id") * step +
        pmod(h(seed, "id", 1), lit(step))).as("ts"),
      (pmod(h(seed, "id", 2), lit(1500L)) + 1).as("user_id"),
      element_at(array(EventTypes.map(lit): _*),
        (pmod(h(seed, "id", 3), lit(5L)) + 1).cast("int")).as("event_type"),
      round(-log(u) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, "id", 5), lit(100L)).cast("string"),
        lit("}")).as("props"))
  }

  /** Every row of `df` ×mult, jittering `value` per copy. The explode
    * runs inside each partition of `df`, so no multiplied row is
    * shuffled. */
  def multiply(df: DataFrame, seed: Long, mult: Int): DataFrame =
    df.withColumn("_i", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("event_id", col("event_id") * mult + col("_i"))
      .withColumn("value", col("value") +
        pmod(h(seed, "event_id", 6), lit(100L)) * 0.001)
      .drop("_i")

  /** Writes rows with ts < bounds.head as the date-partitioned table at
    * `table`, and batch k (bounds(k) <= ts < bounds(k+1)) in the same
    * layout under `pending/batch=k`, so appending a batch is a file move.
    * Base rows are partitioned before they are multiplied: by time range
    * for the history, by batch for the batches, so each of the many small
    * batches is written by a task of its own rather than all by the one
    * task holding the newest rows. Returns the history row count and the
    * row count of every batch. */
  def write(spark: SparkSession, seed: Long, mult: Int, table: String,
      pending: String, bounds: Vector[Long]): (Long, Vector[Long]) = {
    def at(k: Int) = timestamp_micros(lit(bounds(k)))
    // -1: history; k: batch k; -2: past the last whole batch
    val batch = bounds.indices.tail.foldLeft(when(col("ts") < at(0), -1)) {
      (c, k) => c.when(col("ts") < at(k), k - 1)
    }.otherwise(-2)
    val b = base(spark, seed).withColumn("batch", batch)
    Layouts.writeTimeSeriesPartitioned(multiply(b.filter(col("batch") === -1)
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("ts"))
      .sortWithinPartitions("ts"), seed, mult).drop("batch"), table)
    if (bounds.size > 1)
      multiply(b.filter(col("batch") >= 0).repartition(col("batch"))
        .sortWithinPartitions("ts"), seed, mult)
        .withColumn("ts_day", to_date(col("ts")))
        .write.partitionBy("batch", "ts_day").mode("overwrite").parquet(pending)
    // the explode keeps `ts`, so every base row stands for mult rows of
    // its batch: counting the base is enough
    val counts = b.groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1) * mult).toMap
    (counts.getOrElse(-1, 0L),
      Vector.tabulate(bounds.size - 1)(k => counts.getOrElse(k, 0L)))
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(schema).parquet(table)

  /** Appends batch k to the table by moving its files into the table's
    * date partitions. */
  def append(spark: SparkSession, pending: String, table: String, k: Int): Unit = {
    val src = new Path(s"$pending/batch=$k")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(src)) fs.listStatus(src).filter(_.isDirectory).foreach { day =>
      val dst = new Path(table, day.getPath.getName)
      fs.mkdirs(dst)
      fs.listStatus(day.getPath).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          // one write job produced every batch, so file names repeat
          // across batches: prefix the batch to keep them apart
          val to = new Path(dst, s"batch$k-${f.getName}")
          if (!fs.rename(f, to)) sys.error(s"could not move $f to $to")
        }
    }
  }

  /** Seeded batch boundaries from `from` to the end of the data: each
    * batch spans `mean` µs ×U(0.75, 1.25). */
  def boundaries(seed: Long, from: Long, mean: Long): Vector[Long] = {
    if (from >= EndMicros) return Vector(from)
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    Iterator.iterate(from)(b => b + (mean * (0.75 + 0.5 * rnd.nextDouble())).toLong)
      .takeWhile(_ <= EndMicros).toVector
  }
}
