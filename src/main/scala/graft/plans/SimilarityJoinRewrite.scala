package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, NumericType}

/** Optimizer rule that turns an inner theta join on a set-Jaccard
  * threshold —
  *
  *   A JOIN B ON size(array_intersect(a, b)) / size(array_union(a, b)) >= t
  *
  * (the [[graft.functions.Text.jaccardSim]] composition, `t > 0`) — into an
  * equality join Spark can hash/sort-merge:
  *
  *   A + explode(PREFIX of array_sort(array_distinct(a))) — element key
  *   B + explode(PREFIX of array_sort(array_distinct(b))) — element key
  *   JOIN ON elem_a <=> elem_b                            — equality!
  *   AND elem_a <=> array_min(array_intersect(pfx_a, pfx_b)) — meet once
  *   AND original condition                               — exactness
  *
  * Without this, Catalyst's only plans for the theta join are
  * BroadcastNestedLoopJoin / CartesianProduct — O(n·m) Jaccard evaluations.
  * The rewrite bounds comparisons to element co-occupancy, and PREFIX
  * FILTERING (the AllPairs/PPJoin lemma: jaccard(A,B) ≥ t implies
  * |A∩B| ≥ ⌈t·|A|⌉, and under one total order two sets with overlap ≥ α
  * must collide within their first |X| − α + 1 elements) shrinks it
  * further: each side explodes only the first n − ⌈t·n⌉ + 1 elements of
  * its SORTED distinct array — at t = 0.8 that is ~5× fewer exploded rows
  * per side and ~25× fewer candidates on a hot element. `array_sort`'s
  * natural ascending order (nulls last, identically on both sides) is the
  * shared total order — no comparator lambda, everything stays built-in
  * expressions. A candidate pair is kept exactly once by the `array_min`
  * conjunct over the PREFIX intersection (non-empty for every qualifying
  * pair, by the lemma), so no aggregate/dedup is needed and duplicate
  * input ROWS pair exactly as the nested loop would. Pairs that never
  * share a prefix element are exactly the ones the predicate already
  * rejects.
  * SEMANTICS-PRESERVING — the original predicate re-applies above the join
  * — unlike an LSH rewrite, which drops pairs and must stay an explicit
  * operator ([[graft.operators.Dedup.minhashPairs]]). The exact-join
  * analogue with CANDIDATE PRUNING (prefix filtering) is likewise an
  * explicit operator, [[graft.operators.Dedup.jaccardPairsPrefix]] — an
  * optimizer rule must not pick size/ordering heuristics silently.
  *
  * Null/empty edges: `<=>` (null-safe) element equality keeps pairs whose
  * only shared element is NULL (array_min skips nulls, so both sides fall
  * back to a null key); empty/absent arrays generate no rows, matching the
  * predicate's null/zero rejection. Rows lost by the non-outer explode are
  * exactly those with no elements — unmatchable under t > 0.
  *
  * Scope: INNER joins only. Outer/semi/anti would need the UNEXPLODED side
  * preserved, but this rewrite explodes both sides — a semi/outer join over
  * exploded copies would duplicate (or mis-null-extend) left rows. Declines
  * when any equality conjunct between the sides exists: Spark already has a
  * hash-join key, and that check also makes the rule idempotent (the
  * rewritten join's own `<=>` key rejects a second pass). Also declines
  * when the division was typed under ANSI mode: there 0/0 (two empty
  * arrays) raises DIVIDE_BY_ZERO in the original plan, which the rewrite
  * would silently swallow (empty arrays explode to zero rows). Hot elements
  * (shared by many rows on both sides) inflate the candidate space toward
  * the nested loop's worst case — the rewrite never does asymptotically
  * worse than what it replaces, but for unblocked corpora with stopword
  * shingles prefer the prefix-filter operator, which prunes by rarest
  * element instead of joining on all of them.
  */
object SimilarityJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) =>
        rewrite(j, cond).getOrElse(j)
    }

  /** Strip the no-op numeric casts the analyzer inserts around `size` when
    * typing the division.
    */
  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case _ => e
  }

  /** Match `size(array_intersect(a,b)) / size(array_union(a,b))` with the
    * union's operands semantically equal to the intersect's (either order).
    *
    * The `legacySizeOfNull` flag baked into the matched Size nodes is a
    * SOUNDNESS gate, not a detail: under legacy semantics (the non-ANSI
    * default) `size(NULL) = -1`, so a NULL array scores -1/-1 = 1.0 against
    * EVERYTHING — cross-join semantics no equality rewrite can express.
    * The rewrite is therefore only sound when the sizes use modern
    * semantics (where a null operand nulls the predicate) OR both array
    * expressions are statically non-nullable. `Text.jaccardSim` and
    * `graft_jaccard` build their sizes with modern semantics, so their
    * joins stay rewritable on nullable arrays.
    */
  private def jaccardOperands(e: Expression)
      : Option[(Expression, Expression, Boolean)] =
    e match {
      // ANSI division is a second soundness gate: under it, 0/0 (two empty
      // arrays) RAISES DIVIDE_BY_ZERO in the original nested-loop plan,
      // while the rewrite explodes empty arrays to zero rows and never
      // evaluates the predicate — silently converting a failing query
      // into a passing one. LEGACY and TRY both yield null (pair excluded
      // on both plans), so only ANSI declines.
      case Divide(num, den, ctx) if ctx.evalMode != EvalMode.ANSI =>
        (stripCast(num), stripCast(den)) match {
          case (Size(ArrayIntersect(a, b), legI), Size(ArrayUnion(u1, u2), legU))
              if legI == legU &&
                ((u1.semanticEquals(a) && u2.semanticEquals(b)) ||
                  (u1.semanticEquals(b) && u2.semanticEquals(a))) =>
            Some((a, b, legI))
          case _ => None
        }
      case _ => None
    }

  /** A conjunct of the form `jaccard(a,b) >= t` (0 < t ≤ 1) or `> t`
    * (0 ≤ t ≤ 1), either orientation; yields the arrays and the threshold
    * (which sizes the prefix). The lower bound is what makes the rewrite
    * sound — at t = 0 with `>=`, DISJOINT pairs qualify and never meet on
    * an element key; above 1 the predicate is constant-false and the
    * nested loop's empty result is cheaper than any rewrite.
    */
  private def simPredicate(c: Expression)
      : Option[(Expression, Expression, Double)] = {
    def threshold(e: Expression): Option[Double] = e match {
      case l if l.foldable && l.dataType.isInstanceOf[NumericType] =>
        Option(l.eval()).map(_.asInstanceOf[Number].doubleValue())
      case _ => None
    }
    def sound(ab: (Expression, Expression, Boolean)) = ab match {
      // legacy size(NULL) = -1 scores null arrays 1.0 vs everything; only
      // non-nullable inputs are rewritable under it (see jaccardOperands)
      case (a, b, legacy) => !legacy || (!a.nullable && !b.nullable)
    }
    def ge(j: Expression, t: Expression) = for {
      ab <- jaccardOperands(j) if sound(ab)
      tv <- threshold(t) if tv > 0.0 && tv <= 1.0
    } yield (ab._1, ab._2, tv)
    def gt(j: Expression, t: Expression) = for {
      ab <- jaccardOperands(j) if sound(ab)
      tv <- threshold(t) if tv >= 0.0 && tv <= 1.0
    } yield (ab._1, ab._2, tv)
    c match {
      case GreaterThanOrEqual(j, t) => ge(j, t)
      case LessThanOrEqual(t, j) => ge(j, t)
      case GreaterThan(j, t) => gt(j, t)
      case LessThan(t, j) => gt(j, t)
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
    // an equality between the sides: Spark already hash-joins (the rewrite
    // would only add explode copies), and the rewritten join's own <=> key
    // lands here on a second pass — the idempotency guard
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case EqualNullSafe(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromLeft(b) && fromRight(a))
      case _ => false
    }
    if (hasEqui) return None

    // first similarity conjunct whose arrays split across the sides,
    // oriented (left-array, right-array)
    val arrays = conjuncts.iterator.flatMap(simPredicate).collectFirst {
      case (a, b, t) if fromLeft(a) && fromRight(b) => (a, b, t)
      case (a, b, t) if fromLeft(b) && fromRight(a) => (b, a, t)
    }
    arrays.flatMap { case (la, ra, t) =>
      (la.dataType, ra.dataType) match {
        case (ArrayType(et, _), ArrayType(_, _))
            if RowOrdering.isOrderable(et) =>
          // each side: sort the distinct array (sort_array ascending,
          // nulls first — the shared total order the prefix lemma needs),
          // keep the first n − ⌈t·n⌉ + 1 elements, explode THOSE to rows.
          // array_distinct keeps the per-pair meet count = |prefix
          // intersection| regardless of input duplicates (intersect/union
          // are set-semantic already, so the predicate is unchanged). The
          // 1e-9 slack before ceil guards the fp product (0.8·5 can round
          // to 4.0000000000000004 → ceil 5, an unsound SHORTER prefix);
          // slack can only lengthen the prefix, which is always sound.
          def exploded(child: LogicalPlan, arr: Expression, tag: String)
              : (LogicalPlan, Attribute, Attribute, Attribute) = {
            val dist = ArrayDistinct(arr)
            val sorted = SortArray(dist, Literal(true))
            val n = Cast(Size(dist, legacySizeOfNull = false), LongType)
            val pfxLen = Cast(
              Subtract(Add(n, Literal(1L)),
                Ceil(Subtract(Multiply(Cast(n, DoubleType), Literal(t)),
                  Literal(1e-9)))),
              IntegerType)
            val pfxAlias =
              Alias(Slice(sorted, Literal(1), pfxLen), s"__graft_sim_pfx_$tag")()
            // distinct-set size, projected once per ROW so the per-copy
            // size bound below is two reads — codegen subexpression
            // elimination shares the ArrayDistinct with the prefix alias
            val nAlias = Alias(n, s"__graft_sim_n_$tag")()
            val projected = Project(child.output :+ pfxAlias :+ nAlias, child)
            val pfxAttr = pfxAlias.toAttribute
            val elemNullable = pfxAlias.dataType match {
              case ArrayType(_, nl) => nl
              case _ => true
            }
            val elemAttr =
              AttributeReference(s"__graft_sim_elem_$tag", et, elemNullable)()
            // the generator input is tagged, not the bare attribute: for an
            // attribute input Spark's InferFiltersFromGenerate infers
            // `size(pfx) > 0 AND isnotnull(pfx)`, and pushdown inlines the
            // prefix alias's whole input pipeline into that filter below
            // any exchange under the join (on q75, its scan stage). The filter
            // drops nothing the explode keeps; KnownNullable is a no-op tag
            val gen = Generate(Explode(KnownNullable(pfxAttr)), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(elemAttr), child = projected)
            (gen, pfxAttr, elemAttr, nAlias.toAttribute)
          }
          val (newLeft, lPfx, lElem, lN) = exploded(left, la, "l")
          val (newRight, rPfx, rElem, rN) = exploded(right, ra, "r")
          // meet-once: of the |prefix-intersection| copies of a candidate
          // pair (non-empty for every qualifying pair, by the lemma), keep
          // the one joined on the smallest shared prefix element.
          // array_min skips nulls, so a pair whose ONLY shared prefix
          // element is null keeps its null-key copy via <=> (null = null
          // would drop it).
          val meetOnce = EqualNullSafe(lElem,
            ArrayMin(ArrayIntersect(lPfx, rPfx)))
          // size bound (AllPairs length filter): jaccard(A,B) ≥ t implies
          // |A∩B| ≥ t·|A∪B| ≥ t·max(n_l,n_r) and |A∩B| ≤ min(n_l,n_r),
          // so min ≥ t·max — two long reads + one multiply per copy,
          // evaluated BEFORE the O(|prefix|) intersect and the O(n)
          // exact predicate. The same 1e-9 slack as the prefix length
          // guards fp rounding of t·max (slack only ADMITS extra copies,
          // which the exact predicate re-rejects — never drops one).
          val sizeBound = GreaterThanOrEqual(
            Cast(Least(Seq(lN, rN)), DoubleType),
            Subtract(Multiply(Cast(Greatest(Seq(lN, rN)), DoubleType),
              Literal(t)), Literal(1e-9)))
          // conjunct order (cheap → expensive): the original condition's
          // NON-similarity conjuncts (e.g. a doc1 < doc2 orientation cut,
          // which alone halves the candidate copies) run before the size
          // bound, meet-once dedup, and finally the exact similarity
          // predicate. Reordering deterministic conjuncts is the same
          // liberty predicate pushdown already takes; conjuncts carrying
          // subqueries stay in place (never hoisted ahead of cheaper
          // filters), and the rule already declines non-deterministic
          // conditions outright.
          val (hoisted, kept) = conjuncts.partition(c =>
            !c.exists(_.isInstanceOf[PlanExpression[_]]) &&
              simPredicate(c).isEmpty)
          val ordered = hoisted ++ (Seq(sizeBound, meetOnce) ++ kept)
          val joined = Join(newLeft, newRight, Inner,
            Some(And(EqualNullSafe(lElem, rElem),
              ordered.reduceRight(And))),
            JoinHint.NONE)
          Some(Project(j.output, joined))
        case _ => None
      }
    }
  }
}
