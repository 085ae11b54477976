package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule restoring parquet row-group pruning on the LEGACY
  * nanos-timestamp layout (SURVEY §2: the events table shipped as
  * TIMESTAMP(NANOS), which Spark reads only as raw int64 via
  * `nanosAsLong` — `Tables.table` then projects
  * `ts = timestamp_micros(raw div 1000)`).
  *
  * Problem: once predicate pushdown substitutes the alias, the scan
  * filter is `timestamp_micros(raw div 1000) >= TIMESTAMP'…'` — not an
  * attribute comparison, so the parquet source can't translate it and
  * every row group is read.
  *
  * This rule DERIVES a redundant, pushable range predicate on the raw
  * int64 column from any comparison between that projected timestamp
  * and a literal: `micros(raw div 1000) ⋈ T` implies a raw-nanos bound
  * loosened by one µs-quantum (999 ns) on the open side, so it is a
  * strict superset under EITHER floor or truncating division — the
  * original filter still runs, rows are never dropped, and the derived
  * conjunct reaches `PushedFilters` (row-group stats pruning works
  * again without rewriting the data).
  *
  * Idempotent: a derived conjunct that is already present
  * (semanticEquals) is not re-added, so the fixpoint optimizer
  * terminates. Scope: only `IntegralDivide(raw, 1000L)` feeding
  * `timestamp_micros`, the exact legacy-loader shape.
  */
object NanosFilterRule extends Rule[LogicalPlan] {

  /** The raw int64 expression when `e` is micros(raw div 1000). */
  private def rawOf(e: Expression): Option[Expression] = e match {
    case MicrosToTimestamp(d: IntegralDivide) => (d.left, d.right) match {
      case (raw, Literal(1000L, LongType)) if raw.dataType == LongType =>
        Some(raw)
      case _ => None
    }
    case _ => None
  }

  /** Epoch-micros of a timestamp literal (internal representation). */
  private def micros(l: Literal): Option[Long] = l.dataType match {
    case TimestampType if l.value != null => Some(l.value.asInstanceOf[Long])
    case _ => None
  }

  private def nanosLit(v: Long): Literal = Literal(v, LongType)

  /** Micros→nanos lower/upper bound with OVERFLOW REFUSAL: a timestamp
    * literal outside the int64-nanos range (before ~1677 / after ~2262
    * — sentinel dates like `TIMESTAMP '9999-01-01'`) would wrap under
    * `m * 1000`, turning the "redundant superset" conjunct into a
    * contradiction that silently drops every row. When the multiply
    * overflows there is nothing useful to push (every representable raw
    * nanos value already satisfies the true bound), so derivation is
    * skipped and only the original filter runs. */
  private def nanosLower(m: Long): Option[Long] =
    try Some(Math.subtractExact(Math.multiplyExact(m, 1000L), 999L))
    catch { case _: ArithmeticException => None }
  private def nanosUpper(m: Long): Option[Long] =
    try Some(Math.multiplyExact(Math.addExact(m, 1L), 1000L))
    catch { case _: ArithmeticException => None }

  /** Conservative derived bound: never drops a row whichever way the
    * engine rounds negative division. */
  private def derive(p: Expression): Option[Expression] = p match {
    case GreaterThanOrEqual(e, l: Literal) =>
      for (r <- rawOf(e); m <- micros(l); b <- nanosLower(m))
        yield GreaterThanOrEqual(r, nanosLit(b))
    case GreaterThan(e, l: Literal) =>
      for (r <- rawOf(e); m <- micros(l); b <- nanosLower(m))
        yield GreaterThanOrEqual(r, nanosLit(b))
    case LessThan(e, l: Literal) =>
      for (r <- rawOf(e); m <- micros(l); b <- nanosUpper(m))
        yield LessThan(r, nanosLit(b))
    case LessThanOrEqual(e, l: Literal) =>
      for (r <- rawOf(e); m <- micros(l); b <- nanosUpper(m))
        yield LessThan(r, nanosLit(b))
    case EqualTo(e, l: Literal) =>
      for (r <- rawOf(e); m <- micros(l);
           lo <- nanosLower(m); hi <- nanosUpper(m))
        yield And(GreaterThanOrEqual(r, nanosLit(lo)),
          LessThan(r, nanosLit(hi)))
    // mirrored literal-first forms
    case GreaterThanOrEqual(l: Literal, e) => derive(LessThanOrEqual(e, l))
    case GreaterThan(l: Literal, e) => derive(LessThan(e, l))
    case LessThan(l: Literal, e) => derive(GreaterThan(e, l))
    case LessThanOrEqual(l: Literal, e) => derive(GreaterThanOrEqual(e, l))
    case EqualTo(l: Literal, e) => derive(EqualTo(e, l))
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val cs = conjuncts(cond)
      val derived = cs.flatMap(derive)
        .filterNot(d => cs.exists(_.semanticEquals(d)))
      if (derived.isEmpty) f
      else Filter((cs ++ derived).reduce(And), child)
  }
}
