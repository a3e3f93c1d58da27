package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule that turns a pure interval (range) inner join —
  * `left.t BETWEEN right.lo AND right.hi` with NO equality conjunct — into
  * the bucketed equality-join shape Spark can hash/sort-merge:
  *
  *   left  + bucket(t)
  *   right + explode(sequence(bucket(lo), bucket(hi)))   — interval covers
  *   JOIN ON left.bucket = right.bucket                  — equality!
  *   FILTER original range condition                     — exactness
  *
  * Without this, Catalyst's only plans for a non-equi join are
  * BroadcastNestedLoopJoin / CartesianProduct — O(n·m) comparisons. The
  * rewrite bounds comparisons to bucket co-occupancy and is SEMANTICS-
  * PRESERVING (the original predicate re-applies above the join), unlike
  * an LSH-style rewrite which would drop pairs and therefore must stay an
  * explicit operator, never an optimizer rule.
  *
  * Scope: inner joins whose condition contains a lower and an upper bound
  * on the SAME left-side timestamp/integral expression against right-side
  * bounds, and no usable equality conjunct (if one exists, Spark already
  * hash-joins and the rewrite would only add work). Deliberately
  * conservative: if the two bounds see different typed views of the probe
  * (e.g. Spark inserted a tz/ntz cast on one conjunct because the bound
  * types differ), the rule declines — bucketing across timezone
  * reinterpretations is unsound, and soundness beats coverage in an
  * optimizer rule. Align the bound types in the query to enable it.
  * Buckets are one day wide (86400 seconds, or integral units), and an
  * interval may span at most 100000 of them.
  * Idempotent: the rewritten join's condition is a plain equality, which
  * the eligibility check rejects.
  *
  * Trade-off of firing on plan shape alone: every eligible interval join
  * is bucketed by day, and one whose interval spans more than 100000 days
  * fails loudly instead of running as a nested loop. Such a join should
  * pick its own bucket width with [[graft.operators.TemporalJoins.bucketedRangeJoin]],
  * the manual form of the same shape.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Bucket width: one day in seconds (or integral units). */
  private val BucketWidth = 86400L

  /** The most buckets one interval may explode into. */
  private val MaxBucketsPerInterval = 100000L

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      // probe (bounded) side = LEFT = the non-exploded side, so Inner,
      // LeftOuter, LeftSemi and LeftAnti are sound: every true pair meets
      // in exactly one bucket copy, and an unmatched left row null-extends
      // (or is kept/dropped) exactly once. RightOuter/FullOuter are NOT
      // rewritable this way — the exploded right copies would each
      // null-extend, duplicating unmatched right rows.
      case j @ Join(_, _, Inner | LeftOuter | LeftSemi | LeftAnti, Some(cond), _) =>
        rewrite(j, cond).getOrElse(j)
    }

  /** Seconds-resolution long view of a timestamp/integral expression.
    * Casts built inside an OPTIMIZER rule must carry a timezone
    * themselves: TimeZoneAwareExpression is unresolved without one, and no
    * analyzer pass runs after the optimizer (PLAN_VALIDATION_FAILED
    * otherwise).
    */
  private def asLong(e: Expression): Expression = {
    val tz = Option(conf.sessionLocalTimeZone)
    e.dataType match {
      case TimestampType => Cast(e, LongType, tz) // instant → epoch: zone-free
      // NTZ has no direct long cast; hop through TIMESTAMP — pinned to UTC,
      // NOT the session zone: a DST-observing zone's wall-clock→instant map
      // is non-monotone (spring-forward gap), and a non-monotone bucket
      // function can put a true pair in different buckets and silently drop
      // it. UTC is a monotone bijection on the wall-clock reading, and the
      // same hop applies to t, lo, and hi, so all three share one base.
      case TimestampNTZType =>
        Cast(Cast(e, TimestampType, Some("UTC")), LongType, Some("UTC"))
      case LongType => e
      case IntegerType | ShortType | ByteType => Cast(e, LongType, tz)
      case _ => e // not reached: eligibility filters types
    }
  }

  private def supportedType(e: Expression): Boolean = e.dataType match {
    case TimestampType | TimestampNTZType => true
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def bucketOf(e: Expression): Expression =
    Cast(Floor(Divide(Cast(asLong(e), DoubleType),
      Literal(BucketWidth.toDouble, DoubleType))), LongType)

  private def rewrite(j: Join, cond: Expression): Option[LogicalPlan] = {
    val left = j.left
    val right = j.right
    def fromLeft(e: Expression) = e.references.subsetOf(left.outputSet) &&
      e.references.nonEmpty && e.deterministic
    def fromRight(e: Expression) = e.references.subsetOf(right.outputSet) &&
      e.references.nonEmpty && e.deterministic

    val conjuncts = splitConjunctivePredicates(cond)
    // an equality between the sides means Spark already has a hash join key
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) => (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case EqualNullSafe(a, b) => (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case _ => false
    }
    if (hasEqui) return None

    // lower bound on t (left) vs lo (right), any orientation
    def lower(c: Expression): Option[(Expression, Expression)] = c match {
      case GreaterThanOrEqual(t, lo) if fromLeft(t) && fromRight(lo) => Some((t, lo))
      case GreaterThan(t, lo) if fromLeft(t) && fromRight(lo) => Some((t, lo))
      case LessThanOrEqual(lo, t) if fromLeft(t) && fromRight(lo) => Some((t, lo))
      case LessThan(lo, t) if fromLeft(t) && fromRight(lo) => Some((t, lo))
      case _ => None
    }
    def upper(c: Expression): Option[(Expression, Expression)] = c match {
      case LessThanOrEqual(t, hi) if fromLeft(t) && fromRight(hi) => Some((t, hi))
      case LessThan(t, hi) if fromLeft(t) && fromRight(hi) => Some((t, hi))
      case GreaterThanOrEqual(hi, t) if fromLeft(t) && fromRight(hi) => Some((t, hi))
      case GreaterThan(hi, t) if fromLeft(t) && fromRight(hi) => Some((t, hi))
      case _ => None
    }
    val lowers = conjuncts.flatMap(lower(_))
    val uppers = conjuncts.flatMap(upper(_))
    val bound = (for {
      (t1, lo) <- lowers
      (t2, hi) <- uppers
      if t1.semanticEquals(t2) && supportedType(t1) &&
        supportedType(lo) && supportedType(hi)
    } yield (t1, lo, hi)).headOption
    bound.map { case (t, lo, hi) =>
      // left: project the probe bucket
      val lBucket = Alias(bucketOf(t), "__graft_bucket_l")()
      val newLeft = Project(left.output :+ lBucket, left)
      // right: explode the interval's covered buckets (guarded — Sequence
      // counts DOWNWARD when stop < start, which an empty interval hits)
      val loB = bucketOf(lo)
      val hiB = bucketOf(hi)
      // Sequence is TimeZoneAwareExpression too — set the zone explicitly
      val seq = Sequence(loB, hiB, None, Option(conf.sessionLocalTimeZone))
      // an interval vastly wider than the bucket width (sentinel hi values,
      // or long-typed bounds in finer units than seconds) would explode
      // each right row into millions of copies — fail fast with an
      // actionable message instead of a silent OOM/array-overflow
      val overflow = Cast(
        new RaiseError(Literal(
          s"RangeJoinRewrite: interval spans more than $MaxBucketsPerInterval " +
            s"buckets of $BucketWidth — state this join with " +
            "TemporalJoins.bucketedRangeJoin and a bucket width of about " +
            "the interval length")),
        seq.dataType, Option(conf.sessionLocalTimeZone))
      // span check in doubles: sentinel bounds (hi near Long.MaxValue, lo
      // deeply negative) must reach this guard, not Sequence's
      // less-actionable too-long error, and a double difference cannot
      // wrap; its ~2^-52 relative error is irrelevant for a threshold test
      // on a heuristic cap.
      val covered = If(
        GreaterThan(
          Subtract(Cast(hiB, DoubleType), Cast(loB, DoubleType)),
          Literal(MaxBucketsPerInterval.toDouble)),
        overflow,
        If(GreaterThanOrEqual(hiB, loB), seq,
          Literal.create(Array.empty[Long], seq.dataType)))
      val rBucket = AttributeReference("__graft_bucket_r", LongType)()
      val newRight = Generate(Explode(covered), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(rBucket),
        child = right)
      // same join type, bucket equality AND the original predicate as the
      // join condition: the planner hash/sort-merge-joins on the equality
      // and evaluates the range as its post-join filter, while outer/semi/
      // anti null-extension semantics stay attached to the join itself
      // (a Filter above the join would break them)
      val joined = Join(newLeft, newRight, j.joinType,
        Some(And(EqualTo(lBucket.toAttribute, rBucket), cond)), JoinHint.NONE)
      Project(j.output, joined)
    }
  }
}
