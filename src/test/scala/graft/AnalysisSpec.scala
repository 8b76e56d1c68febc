package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{Fingerprint, Stability}
import graft.sources.Tables

/** Unit coverage for the stability lattice (reference
  * src/aggregate.rs:690-809 incl. the B2/B3 fixes) and fingerprint
  * canonicalization (SURVEY §7.5 hard-part #1). */
class AnalysisSpec extends AnyFunSuite {
  import TestSparkSession._

  private def ev = Tables.events(spark, sf0001)

  /** analyzed filter condition of df.filter(...) */
  private def cond(df: DataFrame): Expression =
    Shims.queryExecution(df).analyzed.collectFirst {
      case Filter(c, _) => c
    }.get

  private val needles = Set("ts")

  test("static predicates are stable") {
    assert(Stability.find(cond(ev.filter(col("value") > 1)), needles) == Stability.Stable)
    assert(Stability.find(cond(ev.filter(
      col("event_type") === "click" && col("value") > 1)), needles) == Stability.Stable)
    // static lower bound on ts is still stable (part of the fingerprint)
    assert(Stability.find(cond(ev.filter(
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))),
      needles) == Stability.Stable)
    // BETWEEN desugars to >= AND <= — must not abandon (reference B2 panics)
    assert(Stability.find(cond(ev.filter(
      expr("ts BETWEEN '2024-01-01' AND '2024-06-01'"))), needles) == Stability.Stable)
    // OR / IN / LIKE are deterministic -> stable (generic fallback)
    assert(Stability.find(cond(ev.filter(
      col("value") > 5 || col("event_type").like("c%"))), needles) == Stability.Stable)
  }

  test("dynamic lower bounds are found, volatile elsewhere abandons") {
    val dyn = Stability.find(cond(ev.filter(
      col("ts") >= (current_timestamp() - expr("INTERVAL 1 DAY")))), needles)
    assert(dyn.isInstanceOf[Stability.Found], dyn)
    // mirrored form: f(now()) <= ts  (B3 strictness flip territory)
    val mir = Stability.find(cond(ev.filter(
      (current_timestamp() - expr("INTERVAL 1 DAY")) <= col("ts"))), needles)
    assert(mir.isInstanceOf[Stability.Found], mir)
    // rand() anywhere -> abandon
    assert(Stability.find(cond(ev.filter(rand() > 0.5)), needles) == Stability.Abandon)
    // two bounds -> abandon (lattice join of two Found)
    val two = Stability.find(cond(ev.filter(
      col("ts") >= (current_timestamp() - expr("INTERVAL 2 DAY")) &&
        col("ts") > (current_timestamp() - expr("INTERVAL 1 DAY")))), needles)
    assert(two == Stability.Abandon, two)
  }

  private def aggPlan(df: DataFrame): Aggregate =
    Shims.queryExecution(df).analyzed.collectFirst { case a: Aggregate => a }.get

  test("fingerprint: stable across re-analysis, alias-invariant, literal-sensitive") {
    def q1 = ev.filter(col("value") > 1).agg(sum("value").as("s"))
    val fpA = Fingerprint.of(aggPlan(q1))
    val fpB = Fingerprint.of(aggPlan(q1)) // fresh analysis, fresh exprIds
    assert(fpA == fpB)
    // alias-only difference -> same state, same key
    val fpAlias = Fingerprint.of(aggPlan(
      ev.filter(col("value") > 1).agg(sum("value").as("other_name"))))
    assert(fpAlias == fpA)
    // different literal -> different key
    val fpLit = Fingerprint.of(aggPlan(
      ev.filter(col("value") > 2).agg(sum("value").as("s"))))
    assert(fpLit != fpA)
    // different aggregate -> different key
    val fpFn = Fingerprint.of(aggPlan(
      ev.filter(col("value") > 1).agg(max("value").as("s"))))
    assert(fpFn != fpA)
  }

  test("fingerprint: spellings of one date_trunc grain share a key, grains do not") {
    def fp(grain: String) = Fingerprint.of(aggPlan(
      ev.groupBy(date_trunc(grain, col("ts")).as("b")).agg(count(lit(1)).as("c"))))
    assert(Set("hour", "HOUR", "Hour").map(fp).size == 1)
    assert(Set("month", "MM", "mon", "MON").map(fp).size == 1)
    assert(Set("day", "DD", "Day").map(fp).size == 1)
    assert(Set("hour", "day", "week", "month", "minute").map(fp).size == 5)
  }

  test("fingerprint: distinguishes sources with identical schemas") {
    val a = tmpDir("fp-a"); val b = tmpDir("fp-b")
    ev.limit(10).write.mode("overwrite").parquet(a)
    ev.limit(10).write.mode("overwrite").parquet(b)
    val fa = Fingerprint.of(aggPlan(
      spark.read.parquet(a).agg(count(lit(1)).as("c"))))
    val fb = Fingerprint.of(aggPlan(
      spark.read.parquet(b).agg(count(lit(1)).as("c"))))
    assert(fa != fb)
  }
}
