package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule that turns an inner theta join on a HAMMING-distance
  * threshold over integer sketches —
  *
  *   A JOIN B ON bit_count(a ^ b) <= d          (d a small literal)
  *
  * — into an equality join Spark can hash/sort-merge, via the PIGEONHOLE
  * decomposition ([[graft.operators.Dedup.simhashPairs]]' candidate
  * generation as a PLANNER rule): split the value's bits into d+1 chunks;
  * any pair within distance d differs in at most d chunks, so it must
  * AGREE EXACTLY on at least one — an equality key.
  *
  *   A + explode(chunk index 0..d)                    — per-chunk rows
  *   B + explode(chunk index 0..d)
  *   JOIN ON idx_a = idx_b AND chunk(a, idx) = chunk(b, idx)  — equality!
  *   AND idx_a = <smallest agreeing chunk index>      — meet-once
  *   AND original condition                           — exactness
  *
  * Without this, Catalyst's only plans for the theta join are
  * BroadcastNestedLoopJoin / CartesianProduct — O(n·m) popcounts. The
  * rewrite bounds comparisons to chunk co-occupancy: on a 32-bit simhash
  * corpus at d = 3 that is the q27 pigeonhole join, found by the planner
  * instead of hand-written. A pair agreeing on several chunks would join
  * several times; the meet-once conjunct (an UNROLLED least-agreeing-index
  * CaseWhen — d is a small literal, so the chain is d+1 branches of
  * codegen'd mask tests) keeps exactly the copy joined on the smallest
  * agreeing index, so duplicate input ROWS pair exactly as the nested
  * loop would and no aggregate/dedup is needed.
  *
  * SEMANTICS-PRESERVING: the original predicate re-applies above the
  * join — INCLUDING Spark's own quirk that `bit_count` SIGN-EXTENDS
  * integral inputs (a negative INT xor counts 32 extra sign bits, so a
  * 3-bit-different pair whose xor has the top bit set scores 35). The
  * rewrite stays sound under it: any pair qualifying at d < 32 has
  * popcount ≤ d over the value's bits, so an agreeing chunk exists, and
  * the re-applied original predicate enforces whatever Spark's count
  * says. Callers who mean the plain sketch distance should keep the
  * sketch non-negative (mask to 31/63 bits or size the type up). NULL
  * sketches produce NULL chunk keys, which `=` rejects — the same rows
  * the original NULL-valued predicate rejects. Skewed sketch
  * values (one hot chunk value shared by many rows) inflate the candidate
  * space toward the nested loop's worst case; the rewrite never does
  * asymptotically worse than what it replaces.
  *
  * Scope: INNER joins; both sides' sketch expressions integral (INT/LONG,
  * same width); threshold a foldable non-negative literal with
  * d + 1 ≤ 16 (a wider split leaves < 2 bits per chunk on INT — all-pairs
  * in disguise). SIZE THE TYPE TO THE SKETCH: a 32-bit sketch carried in
  * a LONG leaves the high chunks all-zero — they agree for every pair,
  * which is correct but degenerates the candidate space to all-pairs;
  * cast to INT first. Declines when any equality conjunct between the sides
  * already exists — Spark then has a hash key, and the rewritten join's
  * own idx = idx conjunct makes a second pass decline (idempotency).
  */
object HammingJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) =>
        rewrite(j, cond).getOrElse(j)
    }

  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case _ => e
  }

  /** Match `bit_count(a ^ b) <= d` / `< d` (either orientation); yields
    * (a, b, d) with the strict form normalized to `<= d − 1`.
    */
  private def hammingPredicate(c: Expression)
      : Option[(Expression, Expression, Int)] = {
    def bound(e: Expression): Option[Int] = e match {
      case l if l.foldable && (l.dataType == IntegerType || l.dataType == LongType) =>
        Option(l.eval()).map(_.asInstanceOf[Number].intValue())
      case _ => None
    }
    def operands(e: Expression): Option[(Expression, Expression)] =
      stripCast(e) match {
        case BitwiseCount(BitwiseXor(a, b)) => Some((a, b))
        case _ => None
      }
    c match {
      case LessThanOrEqual(h, t) =>
        for { (a, b) <- operands(h); d <- bound(t) } yield (a, b, d)
      case GreaterThanOrEqual(t, h) =>
        for { (a, b) <- operands(h); d <- bound(t) } yield (a, b, d)
      case LessThan(h, t) =>
        for { (a, b) <- operands(h); d <- bound(t) } yield (a, b, d - 1)
      case GreaterThan(t, h) =>
        for { (a, b) <- operands(h); d <- bound(t) } yield (a, b, d - 1)
      case _ => None
    }
  }

  private def rewrite(j: Join, cond: Expression): Option[LogicalPlan] = {
    if (!cond.deterministic) return None
    val left = j.left
    val right = j.right
    def fromLeft(e: Expression) = e.references.nonEmpty &&
      e.references.subsetOf(left.outputSet) && e.deterministic
    def fromRight(e: Expression) = e.references.nonEmpty &&
      e.references.subsetOf(right.outputSet) && e.deterministic

    val conjuncts = splitConjunctivePredicates(cond)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case EqualNullSafe(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case _ => false
    }
    if (hasEqui) return None

    val matched = conjuncts.iterator.flatMap(hammingPredicate).collectFirst {
      case (a, b, d) if fromLeft(a) && fromRight(b) => (a, b, d)
      case (a, b, d) if fromLeft(b) && fromRight(a) => (b, a, d)
    }
    matched.flatMap { case (la, ra, d) =>
      val widthOk = la.dataType == ra.dataType &&
        (la.dataType == IntegerType || la.dataType == LongType)
      val bits = if (la.dataType == LongType) 64 else 32
      val nChunks = d + 1
      if (!widthOk || d < 0 || nChunks > 16) None
      else {
        val bitsPer = bits / nChunks
        // chunk i covers bits [i·bitsPer, (i+1)·bitsPer), the LAST chunk
        // absorbs the remainder — masks are precomputed literals
        def chunkLo(i: Int) = i * bitsPer
        def chunkBits(i: Int) =
          if (i == nChunks - 1) bits - chunkLo(i) else bitsPer
        def maskLit(i: Int): Expression = {
          val m =
            if (chunkBits(i) >= 64) -1L
            else (1L << chunkBits(i)) - 1L
          if (la.dataType == LongType) Literal(m) else Literal(m.toInt)
        }
        def chunkOf(x: Expression, idx: Expression): Expression = {
          // CaseWhen over the d+1 literal indices: shift/mask per branch
          val branches = (0 until nChunks).map { i =>
            (EqualTo(idx, Literal(i)),
              BitwiseAnd(ShiftRight(x, Literal(chunkLo(i))), maskLit(i)))
          }
          CaseWhen(branches, None)
        }
        // smallest index whose chunks agree: (a ^ b) masked at chunk i
        // is zero — the meet-once anchor (total for qualifying pairs)
        def leastAgreeIdx(a: Expression, b: Expression): Expression = {
          val x = BitwiseXor(a, b)
          val zero: Expression =
            if (la.dataType == LongType) Literal(0L) else Literal(0)
          val branches = (0 until nChunks).map { i =>
            (EqualTo(BitwiseAnd(ShiftRight(x, Literal(chunkLo(i))),
              maskLit(i)), zero), Literal(i): Expression)
          }
          CaseWhen(branches, None)
        }
        def exploded(child: LogicalPlan, tag: String)
            : (LogicalPlan, Attribute) = {
          val idxArray = CreateArray((0 until nChunks).map(i => Literal(i)))
          val idxAttr =
            AttributeReference(s"__graft_ham_idx_$tag", IntegerType, nullable = false)()
          val gen = Generate(Explode(idxArray), unrequiredChildIndex = Nil,
            outer = false, qualifier = None,
            generatorOutput = Seq(idxAttr), child = child)
          (gen, idxAttr)
        }
        val (newLeft, lIdx) = exploded(left, "l")
        val (newRight, rIdx) = exploded(right, "r")
        val chunkEq = EqualTo(chunkOf(la, lIdx), chunkOf(ra, rIdx))
        val meetOnce = EqualTo(lIdx, leastAgreeIdx(la, ra))
        val joined = Join(newLeft, newRight, Inner,
          Some(And(EqualTo(lIdx, rIdx), And(chunkEq, And(meetOnce, cond)))),
          JoinHint.NONE)
        Some(Project(j.output, joined))
      }
    }
  }
}
