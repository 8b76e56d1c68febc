package graft.analysis

import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.Shims

import graft.cache.QueryCache

/** Plan fingerprint = cache key (reference: src/aggregate.rs:89,180 uses
  * `display_indent_schema()` of the logical Aggregate).
  *
  * Spark's analyzed plans carry fresh expression IDs on every analysis, so
  * a raw plan string would never produce a warm hit (SURVEY §7.5 #1). We
  * key on `plan.canonicalized` (Catalyst's own exprId-normalized,
  * alias-erased form), extended with:
  *  - the source file paths (the canonical form of a file relation doesn't
  *    print its location, and two tables with identical schemas must not
  *    share state);
  *  - the canonical plan's hashCode (covers LocalRelation in-memory data,
  *    which doesn't appear in the string form);
  *  - the output schema json (mirrors the reference's `_schema` suffix and
  *    guards against type-inference drift).
  *
  * Every date_trunc format literal is spelled as its grain first:
  * 'HOUR', 'hour' and 'Hour' (and 'MM', 'mon' and 'month') truncate
  * alike, so they share a key.
  *
  * Alias-only differences between queries canonicalize away — two queries
  * differing only in output names share partial state, which is sound
  * because the stored state uses our own positional column names.
  */
object Fingerprint {

  /** date_trunc format spellings by the grain they truncate to, as
    * Spark's trunc-level parser reads them (case-insensitive) */
  private val grains: Map[String, String] = Seq(
    "year" -> Seq("year", "yyyy", "yy"), "quarter" -> Seq("quarter"),
    "month" -> Seq("month", "mon", "mm"), "week" -> Seq("week"),
    "day" -> Seq("day", "dd"), "hour" -> Seq("hour"),
    "minute" -> Seq("minute"), "second" -> Seq("second"),
    "millisecond" -> Seq("millisecond"), "microsecond" -> Seq("microsecond")
  ).flatMap { case (g, spellings) => spellings.map(_ -> g) }.toMap

  /** the lower-case grain a date_trunc format spelling truncates to */
  def grainOf(format: String): Option[String] =
    grains.get(format.toLowerCase(java.util.Locale.ROOT))

  /** fingerprints computed on the calling thread (tests count them) */
  private val computed = ThreadLocal.withInitial[Array[Long]](() => Array(0L))
  private[graft] def computedOnThisThread: Long = computed.get()(0)

  def of(plan: LogicalPlan): String = {
    computed.get()(0) += 1
    val canon = plan.transformAllExpressions {
      case t @ TruncTimestamp(l @ Literal(f, _), _, _) if f != null &&
          grainOf(f.toString).exists(_ != f.toString) =>
        t.copy(format = Literal.create(grainOf(f.toString).get, l.dataType))
    }.canonicalized
    // LocalRelation data doesn't print in the canonical string; hash the
    // rows themselves (UnsafeRow hashCode is content-based). File relations
    // must NOT contribute object identity — their path set is the identity.
    val localData = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.map(_.hashCode()).mkString(",")
    }
    val basis = new StringBuilder()
      .append(canon.toString)
      .append("\n#local=").append(localData.mkString(";"))
      .append("\n#paths=").append(Shims.sourcePaths(plan).sorted.mkString(","))
      // output TYPES only (names would defeat alias-invariance)
      .append("\n#schema=")
      .append(plan.schema.fields.map(_.dataType.catalogString).mkString(","))
      .toString
    QueryCache.keyHash(basis)
  }
}
