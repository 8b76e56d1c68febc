package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ParquetQueryCache
import graft.functions.functions.{bottom_k, heavy_hitters, top_k}
import graft.log.RecordingLog
import graft.rewrite.Decompose
import graft.rewrite.Decompose._

/** Property: the driver-side merge of aggregate state
  * (`Shims.driverAggregate` over `Decompose.mergeColumn`) returns the rows
  * Spark's own merge aggregation returns, for every merge op, over random
  * state rows: nulls, empty input, decimal sums near their precision,
  * and float group keys holding -0.0, 0.0 and NaN. A merge it cannot
  * evaluate is refused, and a refused merge never answers. */
class DriverMergeSpec extends AnyFunSuite {
  import TestSparkSession._

  private val rawSchema = StructType(Seq(
    StructField("k", DoubleType), StructField("k2", IntegerType),
    StructField("chunk", IntegerType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("dec", DecimalType(28, 2)), StructField("b", BooleanType),
    StructField("s", StringType)))

  /** random raw rows, and whether the decimal state sits near its
    * precision */
  private final case class Case(rows: Seq[Row], nearMax: Boolean, seed: Long)

  private def nullable[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private val genRow: Gen[Row] = for {
    k <- nullable(Gen.oneOf(-0.0, 0.0, Double.NaN, 1.5, -2.25))
    k2 <- Gen.choose(0, 2)
    chunk <- Gen.choose(0, 3)
    i <- nullable(Gen.choose(-20, 20))
    l <- nullable(Gen.choose(-1000L, 1000L))
    // halves: sums of them are exact in any order
    d <- nullable(Gen.frequency(12 -> Gen.choose(-100, 100).map(_ / 2.0),
      1 -> Gen.const(Double.NaN)))
    dec <- nullable(Gen.choose(-100000000L, 100000000L)
      .map(x => new java.math.BigDecimal(x).movePointLeft(2)))
    b <- nullable(Gen.oneOf(true, false))
    s <- nullable(Gen.oneOf("a", "b", "c", "d", "e"))
  } yield Row(k, k2, chunk, i, l, d, dec, b, s)

  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 120))
    rows <- Gen.listOfN(n, genRow)
    nearMax <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield Case(rows, nearMax, seed)

  /** one aggregate per merge op (and per state type of the sum) */
  private def measures: Seq[Column] = Seq(
    sum("l"), sum("d"), sum("dec"), min("d"), max("s"),
    bool_and(col("b")), bool_or(col("b")),
    approx_count_distinct("i"), countDistinct("i"),
    bit_and(col("i")), bit_or(col("i")), bit_xor(col("l")),
    expr("mode(s)"), expr("percentile(d, 0.5)"),
    top_k(struct(col("d"), col("i")), 3), bottom_k(struct(col("d"), col("i")), 2),
    heavy_hitters(col("s"), 8))

  /** every state spec of `measures` over `raw` */
  private def specs(raw: DataFrame): Seq[StateSpec] = {
    val agg = Shims.queryExecution(raw.groupBy("k", "k2")
      .agg(measures.head, measures.tail: _*)).analyzed
      .collectFirst { case a: Aggregate => a }.get
    agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae }).zipWithIndex
      .flatMap { case (ae, i) => Decompose.decompose(i, ae).get.state }
  }

  private val keys = Seq(col("_g0"), col("_g1"))

  /** order-free, comparable form of merged state: sketches by their
    * estimate, arrays sorted */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.toSeq.map { f => f.dataType match {
      case BinaryType => hll_sketch_estimate(col(f.name)).as(f.name)
      case _: ArrayType => array_sort(col(f.name)).as(f.name)
      case _ => col(f.name)
    }}: _*).collect().map(_.toString).sorted.toSeq

  test("the driver merge equals Spark's merge for every merge op") {
    val covered = scala.collection.mutable.Set.empty[String]
    val params = Gen.Parameters.default
    var overflows = 0
    (1 to 14).foreach { caseNo =>
      val c = genCase.pureApply(params, Seed(7000L + caseNo))
      val rnd = new scala.util.Random(c.seed)
      val raw = spark.createDataFrame(c.rows.asJava, rawSchema)
      val ss = specs(raw)
      ss.foreach(s => covered += s.merge.getClass.getSimpleName.stripSuffix("$"))
      // several partial rows per group: one per (group, chunk)
      val partial = raw.groupBy(col("k").as("_g0"), col("k2").as("_g1"),
          col("chunk")).agg(ss.head.partial.as(ss.head.name),
          ss.tail.map(s => s.partial.as(s.name)): _*).drop("chunk")
      val schema = partial.schema
      val decIdx = schema.fields.indexWhere(_.dataType.isInstanceOf[DecimalType])
      // keys as a merge meets them (-0.0 next to 0.0), and decimal sums
      // near the state type's precision
      val decType = schema(decIdx).dataType.asInstanceOf[DecimalType]
      val big = new java.math.BigDecimal(java.math.BigInteger.TEN
        .pow(decType.precision - decType.scale)).multiply(
        new java.math.BigDecimal("0.4"))
      val stateRows = partial.collect().toSeq.map { r =>
        val v = r.toSeq.toArray
        if (v(0) == 0.0 && rnd.nextBoolean()) v(0) = -0.0
        if (c.nearMax && v(decIdx) != null)
          v(decIdx) = v(decIdx).asInstanceOf[java.math.BigDecimal]
            .add(if (rnd.nextBoolean()) big else big.negate)
        Row.fromSeq(v.toSeq)
      }
      val state = spark.createDataFrame(stateRows.asJava, schema)
      val mergeCols = ss.map(Decompose.mergeColumn(_, schema))
      val m = Shims.driverAggregate(spark, schema, keys, mergeCols)
        .fold(why => fail(s"case $caseNo: merge refused: $why"), identity)
      val internal = Shims.queryExecution(state).executedPlan.executeCollect()
      val want = try Right(canon(state.groupBy(keys: _*)
          .agg(mergeCols.head, mergeCols.tail: _*)))
        catch { case e: Exception => Left(e) }
      // all rows at once, and a merged first part folded with the rest
      // (a resident state and a delta)
      def driver(split: Int) = try {
        val (a, b) = internal.splitAt(split)
        Right(canon(Shims.localRows(spark, m.schema,
          m(m(Nil, a.iterator).toSeq, b.iterator).toSeq)))
      } catch { case e: Exception => Left(e) }
      val got = driver(0)
      val gotSplit = driver(rnd.nextInt(internal.length + 1))
      (want, got) match {
        case (Right(w), Right(g)) =>
          assert(g == w, s"case $caseNo (${c.rows.size} rows)")
          assert(gotSplit == Right(w), s"case $caseNo, folded in two parts")
          if (c.rows.isEmpty) assert(g.isEmpty)
        // an overflowing decimal sum fails both ways: the driver merge
        // answers nothing, and the refresh falls back
        case (Left(_), Left(_)) => overflows += 1
        case _ => fail(s"case $caseNo: Spark $want, driver $got")
      }
    }
    info(s"$overflows of 14 cases overflowed a decimal sum both ways")
    assert(covered == Set("MSum", "MMin", "MMax", "MHllUnion", "MSetUnion",
      "MBitAnd", "MBitOr", "MBitXor", "MValueCounts", "MValueSketch", "MTopK",
      "MHeavyHitters"), covered)
  }

  test("the driver merge refuses what it does not evaluate") {
    val schema = StructType(Seq(StructField("_g0", LongType),
      StructField("v", LongType)))
    def refused(agg: Column): Boolean =
      Shims.driverAggregate(spark, schema, Seq(col("_g0")), Seq(agg)).isLeft
    assert(refused(countDistinct("v")))
    assert(refused(expr("sum(v) FILTER (WHERE v > 0)")))
    assert(refused(max(col("v") + rand())))
    assert(!refused(sum("v")))
    // a collated group key: equal keys differ in their bytes
    val collated = StructType(Seq(
      StructField("_g0", StringType("UTF8_LCASE")), StructField("v", LongType)))
    assert(Shims.driverAggregate(spark, collated, Seq(col("_g0")),
      Seq(sum("v"))).isLeft)
    // a session window key: the merge joins overlapping sessions
    val session = StructType(Seq(StructField("_g0",
      StructType(Seq(StructField("start", TimestampType),
        StructField("end", TimestampType))), nullable = true,
      new MetadataBuilder().putBoolean("spark.sessionWindow", true).build()),
      StructField("v", LongType)))
    assert(Shims.driverAggregate(spark, session, Seq(col("_g0")),
      Seq(sum("v"))).isLeft)
  }

  test("a refused merge never answers: the cache commits nothing and the " +
      "refresh takes the chain") {
    import spark.implicits._
    val dir = tmpDir("refused-merge")
    val cache = new ParquetQueryCache(dir)
    cache.put("fp", 1L, Seq((1L, 2L), (2L, 7L)).toDF("_g0", "_s0"))
    // a fold that refuses: the answer is the chain's scan merged by
    // Spark, over the delta appended as a segment
    val merge = new graft.cache.StateMerge(
      _.groupBy("_g0").agg(sum("_s0").as("_s0")), Some((_, _) => None))
    val got = cache.putAppend("fp", 2L, cache.get("fp").get,
      Seq((1L, 3L)).toDF("_g0", "_s0"), None, merge)
    assert(got.get.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 5L), (2L, 7L)))
    // nothing of the fold's was committed or kept: the head is the chain
    // with the delta segment, read from its files
    val head = cache.get("fp").get
    assert(head.timestampMicros == 2L && head.head.get.dataDirs.size == 2)
    assert(Shims.queryExecution(head.read(spark)).analyzed.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
    }.isEmpty, "the refused fold's rows were kept")

    // end to end: a collated group key refuses, the log says so, and the
    // refresh answers through the chain like vanilla
    val table = tmpDir("refused-merge-table")
    val DayUs = 86400L * 1000000L
    def day(d: Int) = spark.range(d * 100L, d * 100L + 100).select(
      timestamp_micros(lit(1704067200L * 1000000L) + col("id") * (DayUs / 100))
        .as("ts"),
      expr("CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'A' ELSE 'b' END")
        .as("s"))
    def q = spark.read.parquet(table)
      .groupBy(date_trunc("day", col("ts")).as("day"),
        col("s").cast(StringType("UTF8_LCASE")).as("s"))
      .agg(count(lit(1)).as("cnt"))
    val log = new RecordingLog
    val c2 = new ParquetQueryCache(tmpDir("refused-merge-cache"))
    def run(d: Int): Unit = {
      val got = QueryCacheSession(spark, QueryCacheConfig(c2,
        defaultTemporalColumn = "ts", log = log,
        overrideNowMicros = Some(1704067200L * 1000000L + d * DayUs)))
        .run(q).collect().map(_.toString).sorted.toSeq
      assert(got == q.collect().map(_.toString).sorted.toSeq)
    }
    day(0).write.mode("overwrite").parquet(table)
    run(1)
    (1 to 2).foreach { d => day(d).write.mode("append").parquet(table); run(d + 1) }
    assert(log.messages.exists(_.contains("driver merge unavailable")),
      log.messages)
  }
}
