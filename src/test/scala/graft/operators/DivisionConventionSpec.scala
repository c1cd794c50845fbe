package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Filter => LFilter}
import org.apache.spark.sql.functions._

/** Mechanical enforcement of the ANSI division-by-zero guard convention
  * (the r16 sweep, mechanized per VERDICT r16 #1).
  *
  * The engine's sessions run Spark 4's ANSI default, under which
  * `x / 0.0` THROWS — even for DOUBLE operands — while the DuckDB
  * oracle's x/0 is NULL. The fixtures carry no zero-reachable divisor
  * rows, so the oracle gate is STRUCTURALLY BLIND to the class: an
  * unguarded divisor passes every gate and crashes only on degenerate
  * production data (one zero vector, one same-microsecond day, one
  * zero-variance slice — the 13 sites the r16 review closed by hand).
  * This spec walks every declared query's ANALYZED plan and flags any
  * Divide / IntegralDivide / Remainder / Pmod whose divisor is not
  * provably non-zero-or-NULL:
  *
  *  - a non-zero literal (or NULL literal: NULL divisors don't throw);
  *  - guarded by an enclosing `when(d =!= 0, num / d)` / `when(d > 0,
  *    ...)` branch whose condition proves THAT divisor (the r16 guard
  *    shape — SimilarityOps.cosine, q157/q103/q185/q194);
  *  - itself a guard: `nullif(d, 0)`, `when(d =!= 0, d)` (q200's
  *    digit-ratio shape), `greatest(d, lit(1))` (q173's shape);
  *  - an attribute proven non-zero by an upstream Filter (`sd > 1e-9`,
  *    `mx > 0` — the q145/q89 shape), a grouped `count(*)`/`count(1)`
  *    (>= 1: a group exists only if it has a row), or a
  *    row_number/rank/dense_rank/ntile window (>= 1 by definition);
  *  - or allowlisted below with a written structural reason, pinned to
  *    the exact divisor set it excuses (the OracleConventionSpec
  *    exemption discipline: a dead entry fails, a new divisor riding an
  *    old entry fails).
  *
  * The detector is deliberately CONSERVATIVE: anything it cannot prove
  * is an offender, and the allowlist entry must say why it is safe.
  * False negatives are possible only through the allowlist, never
  * through the scan. `try_divide` (EvalMode.TRY) is exempt by
  * semantics — it already NULLs on zero.
  *
  * SCOPE: the scan covers the declared batch surface (every
  * SparkEntry.specs plan, 243 incl. the q209 gate row). The 13
  * streaming twins are deliberately OUT of scope: their stateful
  * arithmetic runs in JVM Scala inside mapGroupsWithState, where
  * division is IEEE (0/0 = NaN, x/0 = ±Inf — never a throw; the
  * semantics are declared in-line, Streams.scala's anomaly z), and
  * their SQL expression surface is windowed counts/sums with no
  * division (r16 adjudication). A future twin that divides in SQL
  * space should get a probe here.
  */
class DivisionConventionSpec extends SparkSpec {

  /** query -> (why each pinned divisor is structurally non-zero, the
    * exact divisor-SQL set excused). Populated by the r17 triage of
    * every scan hit; an entry without a real structural reason is a
    * defect, not an exemption.
    */
  private val structurallyNonzero: Map[String, (String, Set[String])] = Map(
    // -- TPC-H spec-fidelity pair: the benchmark DEFINES these ratio
    //    formulas; the divisor is a sum of strictly-positive money
    //    terms (l_extendedprice > 0, l_discount <= 0.1 under the TPC-H
    //    data contract), and an EMPTY slice folds the global sum to
    //    NULL (safe). Our own operators with the same shape (q102/
    //    q118/q121) are guarded instead — only the spec-defined
    //    formulas ride this entry.
    "q62_tpch_q14" -> ("TPC-H Q14 formula; SUM of strictly-positive discounted prices; empty month slice folds to NULL",
      Set("CAST(sum(CAST((CAST(graft_lineitem.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(graft_lineitem.l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4))) AS DOUBLE)")),
    "q79_tpch_q8" -> ("TPC-H Q8 formula; grouped SUM of strictly-positive volumes — the o_year group exists only with a row",
      Set("CAST(sum(all_nations.volume) AS DOUBLE)")),
    // -- counts that are >= 1 because the frame/group they total only
    //    has rows when at least one contributing row exists, or sums
    //    of per-row terms that are themselves >= 1
    "q171_benford" -> ("digit = leading digit of floor(price >= 1.0) is in 1..9; _we0 = full-frame SUM of grouped counts >= 1; expected = log10(1 + 1/digit) >= log10(10/9) > 0",
      Set("CAST(CAST(_we0 AS DOUBLE) AS DOUBLE)", "CAST(digit AS DOUBLE)", "expected")),
    "q172_chi2_independence" -> ("n_tot = full-frame SUM over contingency cells with n >= 1; expected = n_seg*n_reg/n_tot with margins >= the cell's own n >= 1 (integer-valued doubles — no underflow)",
      Set("CAST(CAST(n_tot AS DOUBLE) AS DOUBLE)", "expected")),
    "q52_bm25" -> ("df >= 1 (grouped count) so df + 0.5 >= 1.5; tf >= 1 plus positive terms; avgdl = AVG of dl = size(split) >= 1, NULL on an empty corpus (safe)",
      Set("(CAST(df AS DOUBLE) + 0.5D)",
        "(CAST(tf AS DOUBLE) + (1.2D * ((1.0D - 0.75D) + ((0.75D * CAST(dl AS DOUBLE)) / avgdl))))",
        "avgdl")),
    "q99_char_entropy" -> ("ntot = per-doc SUM of grouped char counts >= 1; an empty doc contributes NO rows (length(c) > 0 filter), so its group never exists",
      Set("CAST(ntot AS DOUBLE)")),
    "q115_source_divergence" -> ("sn = per-source SUM of grouped counts n >= 1; ct = corpus SUM >= cn >= 1 (NULL only on an empty corpus, safe); cn/ct >= 1/ct > 0 — counts are < 2^63 so the ratio cannot underflow to 0.0",
      Set("(CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE))", "CAST(ct AS DOUBLE)", "CAST(sn AS DOUBLE)")),
    "q162_bigram_lm" -> ("c1 >= 1 (grouped count) and v >= 1 (vocab count over existing rows): add-v smoothing divisor >= 2",
      Set("CAST((c1 + v) AS DOUBLE)")),
    "q203_naive_bayes" -> ("total_docs = full-frame window SUM of per-class doc counts >= 1 — class rows exist only with docs",
      Set("CAST(total_docs AS DOUBLE)")),
    "q26_ngram_jaccard" -> ("jaccard denominator na + nb - inter >= max(na, nb) >= 1 since inter <= min(na, nb); na/nb are grouped shingle counts (r16 DedupOps audit)",
      Set("CAST(((na + nb) - inter) AS DOUBLE)")),
    "q142_ppjoin_exact" -> ("same jaccard-denominator bound; inter = size(array_intersect) <= min(na, nb)",
      Set("CAST(((na + nb) - CAST(inter AS BIGINT)) AS DOUBLE)")),
    "q177_containment_join" -> ("containment denominator na = per-doc window COUNT(1) >= 1",
      Set("CAST(CAST(na AS DOUBLE) AS DOUBLE)")),
    "q89_embed_quantize" -> ("scale = 127.0/mx with an mx > 0 filter upstream; mx is float-ranged (<= 3.4e38) so scale >= 3.7e-37 — no underflow to 0.0",
      Set("CAST(scale AS DOUBLE)")),
    "q170_classifier_metrics" -> ("f1 denominator n_true + n_pred >= n_true >= 1 (grouped count; n_pred coalesced >= 0); prec already guarded with when(n_pred > 0)",
      Set("CAST((n_true + n_pred) AS DOUBLE)")),
    "q116_itemset_pairs" -> ("n = global basket count; a support row exists only if baskets exist, so every EVALUATED division has n >= 1 (empty input produces no numerator rows)",
      Set("CAST(n AS DOUBLE)")),
    "q135_interpolate" -> ("nd - pd evaluated only in the gap branch (v NULL, pv and nv non-NULL): pd < d < nd strictly, so the day gap is >= 2",
      Set("CAST((nd - pd) AS DOUBLE)")),
    "q168_ab_test" -> ("v_a (var_samp) is NULL whenever n_a < 2 and NULL/0 is NULL under ANSI — the count divisors are live only when n_a/n_b >= 2; the zero-SE case is guarded in the query",
      Set("CAST(n_a AS DOUBLE)", "CAST(n_b AS DOUBLE)")),
    "q47_repetition" -> ("size(w) >= 2 filter upstream: bigrams has size(w) - 1 >= 1 elements (trigrams carry their own size = 0 guard)",
      Set("CAST(size(bigrams) AS DOUBLE)")),
    "q101_token_budget" -> ("n_tokens = per-source SUM of size(split) >= 1 terms; n_sources = global count, live only on rows that exist (q116 argument)",
      Set("CAST(n_tokens AS DOUBLE)", "n_sources")),
    "q124_balanced_resample" -> ("n_total = full-frame window SUM of grouped counts n_l >= 1",
      Set("n_total")),
    "q133_column_profile" -> ("vmean's numerator SUM(decimal) is NULL exactly when count(v) = 0 (all-NULL column) and NULL/0 is NULL under ANSI — the zero divisor is unreachable with a non-NULL numerator",
      Set("CAST(count(v) AS DOUBLE)")),
    "q136_temperature_mixture" -> ("n_tokens = per-source SUM of size(split) >= 1; t_tokens = full-frame SUM >= 1; _we0 = SUM of pa = p^0.3 with p >= 1/t_tokens >= 2^-63, so pa >= 2e-6 > 0",
      Set("CAST(n_tokens AS DOUBLE)", "CAST(t_tokens AS DOUBLE)", "_we0")),
    "q173_score_calibration" -> ("cdf divisor _we0 = full-frame SUM of grouped length-counts ln >= 1 (pct_src's greatest(cnt-1, 1) divisor is detector-proven)",
      Set("CAST(CAST(_we0 AS DOUBLE) AS DOUBLE)")),
    "q110_link_prediction" -> ("union size da + db - w >= max(da, db) >= 1: w = common-neighbor count <= min(da, db), degrees are grouped counts",
      Set("CAST(((da + db) - w) AS DOUBLE)")),
    "q143_incremental_rollup" -> ("n_orders = SUM over shard states of grouped counts n >= 1 — the month group exists only with an order",
      Set("CAST(n_orders AS DOUBLE)")),
    "q150_quantile_shard_merge" -> ("cnt = merged bin count = SUM of shard counts >= 1; the interpolation row is selected by cum_before < q*n <= cum, which itself implies cnt = cum - cum_before > 0",
      Set("CAST(cnt AS DOUBLE)")),
    "q195_kmv_intersect" -> ("least(n_u, 64) >= 1 (n_u is a grouped count); u01 = h_k/2^64 + 0.5 = 0 requires the k-th smallest xxhash64 to be exactly Long.MinValue, i.e. >= k distinct users colliding on the lattice bottom — excluded at the 2^(-64k) level",
      Set("CAST(least(n_u, 64L) AS DOUBLE)", "u01")),
    "q179_mann_whitney" -> ("divisor nn*(nn-1) sits inside when(nn > 1): nn >= 2 integer-valued, both factors >= 1, product >= 2 — integer-valued doubles, no underflow (the enclosing guard proves nn, not the product; detector sees only semantic equality)",
      Set("(CAST(nn AS DOUBLE) * CAST((nn - 1L) AS DOUBLE))")),
    "q201_seasonality" -> ("global_mean = AVG over daily rows of v = grouped counts >= 1, so the mean is >= 1 (NULL only on an empty frame, safe)",
      Set("global_mean")),
    "q209_degenerate_probes" -> ("the q179 shape driven on purpose: mwSigma2's nn*(nn-1) inside when(nn > 1) — same bound, nn >= 2 integer",
      Set("(CAST((n_a + n_b) AS DOUBLE) * CAST(((n_a + n_b) - 1L) AS DOUBLE))")),
  )

  // ---------------------------------------------------------------- //
  // detector                                                         //
  // ---------------------------------------------------------------- //

  private def litNum(e: Expression): Option[BigDecimal] = e match {
    // strip casts: the Column DSL wraps literals to unify types
    // (greatest(x, lit(1)) plans as greatest(x, CAST(1 AS BIGINT)));
    // numeric casts preserve zero-ness
    case c: Cast => litNum(c.child)
    case Literal(null, _) => None
    case Literal(v: Byte, _) => Some(BigDecimal(v.toInt))
    case Literal(v: Short, _) => Some(BigDecimal(v.toInt))
    case Literal(v: Int, _) => Some(BigDecimal(v))
    case Literal(v: Long, _) => Some(BigDecimal(v))
    case Literal(v: Float, _) if !v.isNaN => Some(BigDecimal(v.toDouble))
    case Literal(v: Double, _) if !v.isNaN => Some(BigDecimal(v))
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toBigDecimal)
    case _ => None
  }

  private def isZeroLit(e: Expression): Boolean = litNum(e).contains(BigDecimal(0))
  private def isNonzeroLit(e: Expression): Boolean = litNum(e).exists(_ != 0)
  private def isNullLit(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case _ => false
  }

  /** Expressions proven non-zero when `cond` is TRUE. `abs(x)` proven
    * also proves `x` (the q103 `abs(z) > 3` filter shape).
    */
  private def provenBy(cond: Expression): Seq[Expression] = {
    def unwrap(x: Expression): Seq[Expression] = x match {
      case a: Abs => x +: unwrap(a.child)
      case _ => Seq(x)
    }
    cond match {
      case And(a, b) => provenBy(a) ++ provenBy(b)
      case Not(EqualTo(x, l)) if isZeroLit(l) => unwrap(x)
      case Not(EqualTo(l, x)) if isZeroLit(l) => unwrap(x)
      case GreaterThan(x, l) if litNum(l).exists(_ >= 0) => unwrap(x)
      case GreaterThan(l, x) if litNum(l).exists(_ <= 0) => unwrap(x)
      case LessThan(x, l) if litNum(l).exists(_ <= 0) => unwrap(x)
      case LessThan(l, x) if litNum(l).exists(_ >= 0) => unwrap(x)
      case GreaterThanOrEqual(x, l) if litNum(l).exists(_ > 0) => unwrap(x)
      case GreaterThanOrEqual(l, x) if litNum(l).exists(_ < 0) => unwrap(x)
      case LessThanOrEqual(x, l) if litNum(l).exists(_ < 0) => unwrap(x)
      case LessThanOrEqual(l, x) if litNum(l).exists(_ > 0) => unwrap(x)
      case EqualTo(x, l) if isNonzeroLit(l) => unwrap(x)
      case EqualTo(l, x) if isNonzeroLit(l) => unwrap(x)
      // a =!= b proves a − b != 0 (the q108 hi =!= lo guard shape);
      // both operand orders, since the guard and the divisor may
      // subtract either way
      case Not(EqualTo(a, b)) => Seq(Subtract(a, b), Subtract(b, a))
      case _ => Nil
    }
  }

  /** Expressions proven non-zero when `cond` is FALSE OR NULL (the
    * else-branch contract: a NULL condition also takes the else branch,
    * but then the compared expression is NULL — and a NULL divisor
    * never throws, so "non-zero-or-NULL" still holds).
    */
  private def negProven(cond: Expression): Seq[Expression] = cond match {
    case Or(a, b) => negProven(a) ++ negProven(b)
    case Not(c) => provenBy(c)
    case EqualTo(x, l) if isZeroLit(l) => Seq(x)
    case EqualTo(l, x) if isZeroLit(l) => Seq(x)
    // when(a === b, 0).otherwise(... / (a - b)): else means a != b —
    // or a/b NULL, in which case the subtraction is NULL too (safe)
    case EqualTo(a, b) => Seq(Subtract(a, b), Subtract(b, a))
    // NOT(x <= l) gives x > l, which proves x != 0 only when l >= 0;
    // the pre-r18 guard accepted l <= 0, where x > l admits x = 0 for
    // any l < 0 — a silent false negative outside the allowlist
    // contract (r17 ADVICE; red-proofed below)
    case LessThanOrEqual(x, l) if litNum(l).exists(_ >= 0) => Seq(x)
    // NOT(x >= l) gives x < l — sound exactly in the mirrored case
    // l <= 0 (x < l <= 0); for l > 0 the sign is unknown
    case GreaterThanOrEqual(x, l) if litNum(l).exists(_ <= 0) => Seq(x)
    case _ => Nil
  }

  private def isDivision(e: Expression): Boolean = e match {
    case _: Divide | _: IntegralDivide | _: Remainder | _: Pmod => true
    case _ => false
  }

  /** TRY-mode division NULLs on zero instead of throwing. */
  private def throwsOnZero(e: Expression): Boolean = e match {
    case d: Divide => d.evalMode != EvalMode.TRY
    case d: IntegralDivide => d.evalMode != EvalMode.TRY
    case d: Remainder => d.evalMode != EvalMode.TRY
    case d: Pmod => d.evalMode != EvalMode.TRY
    case _ => false
  }

  private final class PlanFacts(
      val aliases: Map[ExprId, Expression],
      val provenIds: Set[ExprId],
      val provenGlobal: Seq[Expression]) {

    /** Substitute attribute references by their alias definitions to a
      * bounded depth. ExtractWindowExpressions duplicates a window
      * expression that appears both in a guard condition and as the
      * guarded divisor into DISTINCT `_weN` attributes (verified on
      * q185: the condition's den rides _we16.._31, the divisor's den
      * _we32.._47), so a raw semanticEquals between guard and divisor
      * is blind; after substitution both sides are the same tree.
      */
    def resolved(e: Expression): Expression = {
      def go(x: Expression, depth: Int): Expression =
        if (depth > 6) x
        else x.transformUp {
          case ar: AttributeReference if aliases.contains(ar.exprId) =>
            go(aliases(ar.exprId), depth + 1)
        }
      go(e, 0)
    }
  }

  private def collectFacts(plan: LogicalPlan): PlanFacts = {
    val aliases = scala.collection.mutable.Map.empty[ExprId, Expression]
    val provenIds = scala.collection.mutable.Set.empty[ExprId]
    val provenGlobal = scala.collection.mutable.Buffer.empty[Expression]
    plan.collectWithSubqueries { case node =>
      node.expressions.foreach { root =>
        root.foreach {
          case a: Alias =>
            aliases(a.exprId) = a.child
            a.child match {
              // row_number/rank/dense_rank/ntile are >= 1 by definition
              case WindowExpression(_: RowNumber | _: Rank | _: DenseRank | _: NTile, _) =>
                provenIds += a.exprId
              case _ => ()
            }
          case _ => ()
        }
      }
      node match {
        // a grouped count(*) / count(1) is >= 1: the group exists only
        // because at least one row landed in it (NOT true for a global
        // aggregate, whose single row reports 0 on empty input, and NOT
        // true for count(col): all-NULL groups count 0)
        case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
          agg.aggregateExpressions.foreach {
            case a: Alias =>
              a.child match {
                case ae: AggregateExpression if ae.filter.isEmpty =>
                  ae.aggregateFunction match {
                    case Count(Seq(l: Literal)) if l.value != null => provenIds += a.exprId
                    case _ => ()
                  }
                case _ => ()
              }
            case _ => ()
          }
        // a Filter below the division proves its condition for every
        // surviving row (the q89 `mx > 0` / q145 `sd > 1e-9` shape).
        // ExprIds are plan-global after analysis, so attribute facts
        // transfer; complex proven expressions compare semantically.
        case f: LFilter =>
          provenBy(f.condition).foreach { x =>
            provenGlobal += x
            x match {
              case ar: AttributeReference => provenIds += ar.exprId
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    new PlanFacts(aliases.toMap, provenIds.toSet, provenGlobal.toSeq)
  }

  /** True iff `e` is provably non-zero-or-NULL as a divisor, in a
    * context where every expression in `ctx` is proven non-zero.
    */
  private def safeDivisor(
      e: Expression,
      ctx: Seq[Expression],
      facts: PlanFacts,
      groupedAgg: Boolean,
      depth: Int): Boolean = {
    if (depth > 40) return false
    def recurse(c: Expression): Boolean = safeDivisor(c, ctx, facts, groupedAgg, depth + 1)
    def safeUnder(c: Expression, extra: Seq[Expression]): Boolean =
      safeDivisor(c, ctx ++ extra, facts, groupedAgg, depth + 1)
    if (ctx.exists(_.semanticEquals(e)) ||
        facts.provenGlobal.exists(_.semanticEquals(e))) return true
    // alias-resolved comparison (see PlanFacts.resolved) — only when
    // the cheap direct compare missed
    lazy val eRes = facts.resolved(e)
    if (ctx.exists(c => facts.resolved(c).semanticEquals(eRes)) ||
        facts.provenGlobal.exists(c => facts.resolved(c).semanticEquals(eRes))) return true
    e match {
      case l: Literal => isNullLit(l) || isNonzeroLit(l)
      case a: Alias => recurse(a.child)
      case c: Cast => recurse(c.child)
      case co: CheckOverflow => recurse(co.child)
      case a: Abs => recurse(a.child)
      case u: UnaryMinus => recurse(u.child)
      case s: Sqrt => recurse(s.child) // sqrt(x), x != 0: positive -> > 0; negative -> NaN (never a throwing 0.0)
      case ar: AttributeReference =>
        facts.provenIds.contains(ar.exprId) ||
          facts.aliases.get(ar.exprId).exists(recurse)
      case g: Greatest => g.children.exists(c => litNum(c).exists(_ > 0))
      // x / c for a nonzero LITERAL c is nonzero when x is (the q108
      // bin-width shape (hi - lo) / 20.0). Caveat, accepted: an
      // exact-zero via subnormal underflow needs |x| < c · 4.9e-324 —
      // outside every operator's value domain (money, counts, O(1)
      // statistics), and a guard at that magnitude would be theater.
      case d: Divide if litNum(d.right).exists(_ != 0) => recurse(d.left)
      // size(split(s, re)) >= 1 structurally: split never returns an
      // empty array (split('', re) = [''])
      case s: Size => s.child.isInstanceOf[StringSplit]
      // an INLINE grouped count(*)/count(1) divisor (the aliased form
      // rides provenIds): >= 1 — the group exists only with a row
      case ae: AggregateExpression if groupedAgg && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => true
          case _ => false
        }
      case cw: CaseWhen =>
        val branchesOk = cw.branches.forall { case (c, v) => safeUnder(v, provenBy(c)) }
        val elseOk = cw.elseValue.forall { ev =>
          safeUnder(ev, cw.branches.flatMap(b => negProven(b._1)))
        } // an absent else is NULL — safe
        branchesOk && elseOk
      case i: If =>
        safeUnder(i.trueValue, provenBy(i.predicate)) &&
          safeUnder(i.falseValue, negProven(i.predicate))
      case rr: RuntimeReplaceable =>
        // Spark 4 wraps some replacements (nullif) in With/
        // CommonExpressionRef scaffolding; the first child of With is
        // the value-bearing expression and the refs compare
        // semantically, so plain recursion works through it
        rr.replacement match {
          case w: With => recurse(w.children.head)
          case other => recurse(other)
        }
      case _ => false
    }
  }

  /** All unguarded throwing divisions in `df`'s analyzed plan, as
    * divisor-SQL strings.
    */
  private[operators] def offendingDivisors(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.analyzed
    val facts = collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]

    def walk(e: Expression, ctx: Seq[Expression], grouped: Boolean, depth: Int): Unit = {
      if (depth > 200) return
      e match {
        case cw: CaseWhen =>
          cw.branches.foreach { case (c, v) =>
            walk(c, ctx, grouped, depth + 1)
            walk(v, ctx ++ provenBy(c), grouped, depth + 1)
          }
          val negAll = cw.branches.flatMap(b => negProven(b._1))
          cw.elseValue.foreach(walk(_, ctx ++ negAll, grouped, depth + 1))
        case i: If =>
          walk(i.predicate, ctx, grouped, depth + 1)
          walk(i.trueValue, ctx ++ provenBy(i.predicate), grouped, depth + 1)
          walk(i.falseValue, ctx ++ negProven(i.predicate), grouped, depth + 1)
        case d if isDivision(d) && throwsOnZero(d) =>
          val Seq(num, den) = d.children
          if (!safeDivisor(den, ctx, facts, grouped, 0)) bad += den.sql
          walk(num, ctx, grouped, depth + 1)
          walk(den, ctx, grouped, depth + 1)
        case sq: SubqueryExpression =>
          // the subquery PLAN's own nodes are visited by
          // collectWithSubqueries below; only outer refs ride here
          sq.children.foreach(walk(_, ctx, grouped, depth + 1))
        case other =>
          other.children.foreach(walk(_, ctx, grouped, depth + 1))
      }
    }

    plan.collectWithSubqueries { case node =>
      val grouped = node match {
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }
      node.expressions.foreach(walk(_, Nil, grouped, 0))
    }
    bad.toSet
  }

  // ---------------------------------------------------------------- //
  // falsifiability: the detector itself                              //
  // ---------------------------------------------------------------- //

  test("detector flags an unguarded divisor (red-proof: the exact pre-r16 shape)") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 2.0), (3.0, 0.0)).toDF("num", "den")
    val unguarded = df.select((col("num") / col("den")).as("ratio"))
    assert(offendingDivisors(unguarded) == Set("den"),
      "the scan must flag a bare-column divisor — if this fails, the gate is blind again")
    // and the unguarded shape genuinely throws on this session (the
    // contract the whole convention exists for)
    assert(scala.util.Try(unguarded.collect()).isFailure,
      "ANSI no longer throws on 0.0 divisors — re-adjudicate the convention (see AnsiDivisionSpec)")
  }

  test("detector accepts every guard shape the convention prescribes") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 2.0, 1L), (3.0, 0.0, 2L)).toDF("num", "den", "k")
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingDivisors(q)
      assert(off.isEmpty, s"$what flagged: $off")
      q.collect() // and it genuinely runs over the zero-divisor row
    }
    ok(df.select(when(col("den") =!= 0.0, col("num") / col("den"))), "when-guard")
    ok(df.select(round(when(col("den") > 0.0, col("num") / col("den")), 6)), "when(>0) under round")
    ok(df.select(col("num") / nullif(col("den"), lit(0.0))), "nullif divisor")
    ok(df.select(col("num") / when(col("den") =!= 0.0, col("den"))), "guarded-CaseWhen divisor")
    ok(df.select(col("num") / greatest(col("k") - 1, lit(1))), "greatest(_, 1) divisor")
    ok(df.select(col("num") / lit(86400.0)), "literal divisor")
    ok(df.filter(col("den") > 0.0).select(col("num") / col("den")), "filter-proven divisor")
    ok(df.filter(abs(col("den")) > 0.5).select(col("num") / col("den")), "abs-filter-proven divisor")
    ok(df.groupBy("k").agg(count(lit(1)).as("n"), sum("num").as("s"))
      .select(col("s") / col("n")), "grouped count(*) divisor")
    ok(df.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("num")))
      .select(col("num") / col("rk")), "row_number divisor")
    ok(df.select(expr("try_divide(num, den)")), "try_divide")
  }

  test("detector is not fooled by a guard on the WRONG expression") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 2.0, 3.0)).toDF("num", "den", "other")
    // the condition proves `other`, not `den` — must still flag
    val wrong = df.select(when(col("other") =!= 0.0, col("num") / col("den")))
    assert(offendingDivisors(wrong) == Set("den"),
      "a guard on an unrelated expression must not excuse the divisor")
    // a global-aggregate count is NOT >= 1 (empty input reports 0)
    val globalCount = df.agg(count(lit(1)).as("n"), sum("num").as("s"))
      .select(col("s") / col("n"))
    assert(offendingDivisors(globalCount).exists(_.contains("n")),
      "a GLOBAL count(*) divisor must flag (0 on empty input)")
    // count(col) can be 0 even grouped (all-NULL group)
    val countCol = df.groupBy("other").agg(count(col("num")).as("n"), sum("den").as("s"))
      .select(col("s") / col("n"))
    assert(offendingDivisors(countCol).exists(_.contains("n")),
      "a grouped count(col) divisor must flag (all-NULL groups count 0)")
    // negProven soundness (r17 ADVICE): the else branch of
    // when(x <= l, _) proves only x > l — for l < 0 that admits x = 0,
    // so the divisor must STILL flag...
    val negLeak = df.select(when(col("den") <= -1.0, 0.0).otherwise(col("num") / col("den")))
    assert(offendingDivisors(negLeak) == Set("den"),
      "else of when(x <= -1, _) does NOT prove x nonzero (x = 0 > -1) — the detector " +
        "accepting it is the false-negative shape the r17 ADVICE flagged")
    // ...while l = 0 genuinely proves x > 0 in the else branch
    val negOk = df.select(when(col("den") <= 0.0, 0.0).otherwise(col("num") / col("den")))
    assert(offendingDivisors(negOk).isEmpty,
      "else of when(x <= 0, _) proves x > 0 — must pass")
  }

  // ---------------------------------------------------------------- //
  // the division inside an aggregate: Spark's corr                    //
  // ---------------------------------------------------------------- //

  /** `corr` (PearsonCorrelation) divides by the co-moment product with
    * ANSI division INSIDE the aggregate's evaluation, where the Divide
    * scan above cannot see it, and so throws DIVIDE_BY_ZERO on any
    * constant series (a steady heartbeat metric, a flat probe). The
    * ANSI-safe form is `Network.pearson`; no query is exempt. The one
    * subclass that tests both co-moments for zero before dividing,
    * `regr_r2` (q130, q178), is safe — red-proofed below.
    */
  private[operators] def pearsonCorrelations(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries { case node =>
      node.expressions.flatMap(_.collect {
        case p: PearsonCorrelation if !p.isInstanceOf[RegrR2] => p.sql
      })
    }.flatten.toSet

  test("(corr red-proof) the scan flags corr, which throws on a constant column; Network.pearson passes") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    val viaCorr = df.agg(corr(col("x"), col("y")))
    assert(pearsonCorrelations(viaCorr) == Set("corr(x, y)"))
    assert(scala.util.Try(viaCorr.collect()).isFailure,
      "corr no longer throws on a constant column — re-adjudicate the convention")
    val viaHelper = df.agg(graft.pipeline.Network.pearson(col("x"), col("y")))
    assert(pearsonCorrelations(viaHelper).isEmpty)
    assert(viaHelper.head().isNullAt(0))
    // regr_r2 with either column constant: no throw, so not flagged
    val r2 = df.agg(regr_r2(col("y"), col("x")), regr_r2(col("x"), col("y")))
    assert(pearsonCorrelations(r2).isEmpty)
    val row = r2.head()
    assert(row.getDouble(0) == 1.0 && row.isNullAt(1), s"regr_r2 on a constant column: $row")
  }

  test("no declared query plans Spark's corr") {
    val offenders = PlanCensus.gate(Map.empty)(pearsonCorrelations)
    assert(
      offenders.isEmpty,
      s"corr throws DIVIDE_BY_ZERO on a constant series under ANSI (use Network.pearson):\n  " +
        offenders.mkString("\n  "))
  }

  // ---------------------------------------------------------------- //
  // the gate: every declared query                                   //
  // ---------------------------------------------------------------- //

  // ---------------------------------------------------------------- //
  // the r17 SIBLING class: ANSI-throwing array reads & string casts   //
  // ---------------------------------------------------------------- //

  /** query -> (why each pinned site cannot throw, the exact site-SQL
    * set excused). Array element_at past the bound and CAST of a
    * malformed string THROW under the ANSI session default where the
    * DuckDB oracle yields NULL — the same oracle-blind structure as
    * the division class (MAP element_at is already NULL under ANSI;
    * AnsiDivisionSpec pins the asymmetry).
    */
  private val structurallySafeAccess: Map[String, (String, Set[String])] = Map(
    "q03d_text_roundtrip" -> ("self-written 3-field TSV round trip: the writer emits exactly two tabs per line and stringified bigints, so split yields 3 elements and the nullif-guarded casts see '' or digits (r16 Relational audit; dirty external feeds are q03e's PERMISSIVE territory)",
      Set("CAST(nullif(element_at(f, 1), '') AS BIGINT)", "CAST(nullif(element_at(f, 3), '') AS BIGINT)",
        "element_at(f, 1)", "element_at(f, 2)", "element_at(f, 3)")),
    "q03g_gzip_roundtrip" -> ("same self-written 3-field round trip as q03d, gzip-compressed",
      Set("CAST(nullif(element_at(f, 1), '') AS BIGINT)", "CAST(nullif(element_at(f, 3), '') AS BIGINT)",
        "element_at(f, 1)", "element_at(f, 2)", "element_at(f, 3)")),
    "q13c_percentiles" -> ("percentile(value, array(0.5, 0.9)) returns an array sized by its LITERAL percentile argument — indices 1..2 are in bounds by the function contract",
      Set("element_at(pp, 1)", "element_at(pp, 2)")),
    "q13e_approx_percentiles" -> ("percentile/approx_percentile over literal 2- and 4-element percentile arrays — indices bounded by the function contract",
      Set("element_at(ap, 1)", "element_at(ap, 2)",
        "element_at(ep, 1)", "element_at(ep, 2)", "element_at(ep, 3)", "element_at(ep, 4)")),
    "q171_benford" -> ("substring(s, 1, 1) of a stringified BIGINT >= 1 (the o_totalprice >= 1.0 filter) is always one digit 1-9 — the INT cast cannot see a sign or non-digit",
      Set("CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)")),
    "q162_bigram_lm" -> ("lambda index ranges over sequence(1, size(tok) - 1): both 0-based reads tok[i-1], tok[i] stay inside [0, size-1] by construction",
      Set("tok[(namedlambdavariable() - 1)]", "tok[namedlambdavariable()]")),
    "q129_rowwise_minhash" -> ("minhash_mins emits exactly 16 elements (8 bands x 2 mins, the expression's fixed contract); the band index b ranges over sequence(0, 7), so 2b+2 <= 16; the outer element_at(transform(array(...)), 1) reads a 1-element constructed array",
      Set("element_at(namedlambdavariable(), ((2 * namedlambdavariable()) + 1))",
        "element_at(namedlambdavariable(), ((2 * namedlambdavariable()) + 2))",
        "element_at(transform(array(minhash_mins(text, stop_arr)), lambdafunction(CASE WHEN (namedlambdavariable() IS NULL) THEN array() ELSE transform(sequence(0, 7), lambdafunction(named_struct('band', CAST(namedlambdavariable() AS BIGINT), 'sig', concat(CAST(element_at(namedlambdavariable(), ((2 * namedlambdavariable()) + 1)) AS STRING), ',', CAST(element_at(namedlambdavariable(), ((2 * namedlambdavariable()) + 2)) AS STRING))), namedlambdavariable())) END, namedlambdavariable())), 1)")),
    "q33_multimodal_decode" -> ("feat is decodeImage's fixed 4-bin luma histogram; failed decodes DROP in the flatMap (CodecRobustnessSpec), so every emitted row carries 4 bins",
      Set("element_at(feat, 2)")),
    "q33d_image_decode" -> ("decodeImage's fixed 4-bin contract (see q33)",
      Set("element_at(feat, 1)", "element_at(feat, 2)", "element_at(feat, 3)", "element_at(feat, 4)")),
    "q33e_jpeg_decode" -> ("decodeImage's fixed 4-bin contract; the index pmod(doc_id, 4) + 1 is in 1..4",
      Set("element_at(feat, CAST((pmod(doc_id, CAST(4 AS BIGINT)) + CAST(1 AS BIGINT)) AS INT))")),
    "q33f_binaryfile_ingest" -> ("the doc-id cast input is the NON-EMPTY (\\d+) match group — all digits by the regex; '' raises first under the q45 loud convention; feat follows decodeImage's fixed 4-bin contract",
      Set("CAST(regexp_extract(path, 'img_(\\\\d+)\\\\.png$', 1) AS BIGINT)",
        "element_at(feat, 1)", "element_at(feat, 4)")),
  )

  /** Offending ANSI-throwing array reads / string casts in `df`'s
    * analyzed plan. Safe shapes: TRY-mode (try_element_at/try_cast);
    * a FOLDABLE cast input (evaluated at plan time — a malformed
    * constant fails deterministically in every test run, it is not
    * data-dependent); conv(_, _, 10) cast input (emits decimal digits
    * by construction); a literal index into a CreateArray of known
    * size (resolved through aliases).
    */
  private[operators] def offendingAccess(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.analyzed
    val facts = collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]

    def resolveArr(e: Expression, depth: Int): Expression = e match {
      case a: Alias if depth < 10 => resolveArr(a.child, depth + 1)
      case ar: AttributeReference if depth < 10 =>
        facts.aliases.get(ar.exprId).map(resolveArr(_, depth + 1)).getOrElse(ar)
      case other => other
    }

    def boundedArrayRead(arr: Expression, idx: Expression): Boolean =
      litNum(idx).exists(_ > 0) && (resolveArr(arr, 0) match {
        case ca: CreateArray => litNum(idx).exists(_ <= ca.children.size)
        case _ => false
      })

    def stringCastTarget(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.BooleanType => true
      case _: org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

    plan.collectWithSubqueries { case node =>
      node.expressions.foreach { root =>
        root.foreach {
          case ea: ElementAt
              if ea.left.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                ea.failOnError && !boundedArrayRead(ea.left, ea.right) =>
            bad += ea.sql
          case gai: GetArrayItem
              if gai.failOnError && !boundedArrayRead(gai.child, gai.ordinal) =>
            bad += gai.sql
          case c: Cast
              if c.evalMode == EvalMode.ANSI &&
                c.child.dataType == org.apache.spark.sql.types.StringType &&
                stringCastTarget(c.dataType) && !c.child.foldable &&
                !c.child.isInstanceOf[Conv] =>
            bad += c.sql
          case _ => ()
        }
      }
    }
    bad.toSet
  }

  test("(access red-proof) the scan flags an unbounded array read and a data-dependent string cast") {
    val s = spark; import s.implicits._
    val df = Seq((Seq(1, 2), "7", 5)).toDF("arr", "str", "i")
    assert(offendingAccess(df.select(element_at(col("arr"), col("i")))).nonEmpty,
      "an unbounded array element_at must flag")
    assert(offendingAccess(df.select(col("str").cast("bigint"))).nonEmpty,
      "a data-dependent string cast must flag")
    assert(offendingAccess(df.select(expr("try_element_at(arr, i)"),
      expr("try_cast(str AS BIGINT)"))).isEmpty, "try_ forms are safe")
    assert(offendingAccess(df.select(element_at(array(col("i"), col("i")), lit(2)),
      lit("42").cast("bigint"),
      expr("CAST(conv('ff', 16, 10) AS BIGINT)"))).isEmpty,
      "bounded literal reads, foldable casts, and conv-derived casts are safe")
  }

  test("every declared query's array reads and string casts are ANSI-safe or exempted with a reason") {
    val offenders = PlanCensus.gate(structurallySafeAccess)(offendingAccess)
    assert(
      offenders.isEmpty,
      s"ANSI-throwing array reads / string casts on data-dependent input (use try_element_at/" +
        s"try_cast to match the oracle's NULL, raise loudly by the q45 convention, or allowlist " +
        s"with the structural reason):\n  " + offenders.mkString("\n  "))
  }

  test("every declared query's divisors are guarded or exempted with a reason") {
    val offenders = PlanCensus.gate(structurallyNonzero)(offendingDivisors)
    assert(
      offenders.isEmpty,
      s"unguarded ANSI-throwing divisors (wrap in when(d =!= 0, ...)/nullif to match the " +
        s"oracle's NULL, or allowlist with the structural non-zero reason):\n  " +
        offenders.mkString("\n  "))
  }
}
