package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

/** Mechanical enforcement of the top-k determinism convention — the
  * r17 hand audit ("all limit cuts carry a total-order sort key"),
  * mechanized per VERDICT r19 #7 as the last ordering-adjacent prose
  * claim. An `ORDER BY … LIMIT k` whose keys admit ties at the cut
  * boundary returns an ARBITRARY subset of the tied rows — different
  * per engine, per partitioning, per run — which the oracle gate only
  * catches when the fixture happens to produce a boundary tie (it is
  * structurally blind otherwise, exactly like the NULL-ordering
  * class). The walk flags every Sort-backed Limit in every declared
  * query's analyzed plan whose cut is not provably deterministic.
  *
  * A cut is proven deterministic when one of:
  *
  *  - EXACT COVER: the frame under the Sort (stripping row-preserving
  *    Project/Filter/SubqueryAlias/Window wrappers) is an Aggregate or
  *    Deduplicate whose every grouping/dedup key appears (semantically,
  *    after alias resolution) among the sort keys — group tuples are
  *    distinct by construction, so the order is total;
  *  - SCAN PK: the stripped frame is a single source scan (no join or
  *    generate below — row-subset wrappers only) and a sort key is
  *    that scan's pinned unique column ([[pkCols]]: table primary
  *    keys, plus c_name/s_name which TPC-H generates bijectively with
  *    their keys — `Customer#%09d`);
  *  - CONSUMED SUBSET (value-determinism): every column any ancestor
  *    of the Limit actually consumes resolves to a sort key — tied
  *    rows are then value-identical in everything the query reads, so
  *    WHICH tied row survives the cut cannot change the output (the
  *    q196 within-bin median shape: the cut is by price, and only
  *    max(price) of the cut is read);
  *  - or an allowlist entry naming the structural reason (the
  *    NullOrderingConventionSpec exemption discipline — typically a
  *    functional dependency the walk cannot see, e.g. TPC-H grouping
  *    keys that are all attributes of the row the covered key
  *    identifies).
  *
  * Limits with NO Sort below (sample-N semantics) are out of scope:
  * nothing claims an order, and the oracle compare would surface any
  * query that depended on one.
  */
class TopKDeterminismSpec extends SparkSpec {

  import PlanCensus.sfDir

  /** query -> (the functional-dependency reason the walk cannot see,
    * pinned finding set). All five are real total orders: either
    * uncovered grouping keys functionally determined by a covered
    * unique key (attributes of the single row that key identifies —
    * joins on the owning table's pk), or a covered key pair unique at
    * the frame's grain.
    */
  private val structurallyTotal: Map[String, (String, Set[String])] = Map(
    "q56_tpch_q3" -> ("sort keys (revenue, l_orderkey); groups (l_orderkey, o_orderdate, o_shippriority) — the uncovered keys are attributes of THE order row joined on o_orderkey = l_orderkey (orders pk), so groups are unique per l_orderkey and the covered key is tie-free",
      Set("limit-cut:revenue,graft_lineitem.l_orderkey")),
    "q58_tpch_q10" -> ("sort keys (revenue, c_custkey); the uncovered grouping keys (c_name/c_acctbal/c_phone/c_address/c_comment, n_name) are attributes of the customer row c_custkey identifies and of its single nation (c_nationkey FK to the nation pk) — unique per c_custkey",
      Set("limit-cut:revenue,graft_customer.c_custkey")),
    "q63_tpch_q18" -> ("sort keys (o_totalprice, o_orderkey); uncovered grouping keys (c_name, c_custkey, o_orderdate) are attributes of THE order row (orders pk o_orderkey) and its single customer — unique per o_orderkey",
      Set("limit-cut:graft_orders.o_totalprice,graft_orders.o_orderkey")),
    "q83_tpch_q2" -> ("the frame's grain is partsupp (unique on (p_partkey, s_suppkey)) after the min-cost correlated filter; the sort keys include p_partkey AND s_name, and dbgen derives s_name bijectively from s_suppkey — the covered pair is unique at the frame's grain",
      Set("limit-cut:graft_supplier.s_acctbal,graft_nation.n_name,graft_supplier.s_name,graft_part.p_")),
    "q110_link_prediction" -> ("(a, b) are the grouping keys of the pairs aggregate two joins below the sort; both joins are 1:1 key-preserving enrichments (deg is an Aggregate unique per sk, joined once on a and once on b), so the grain survives to the cut and (a, b) ⊆ sort keys is a total order",
      Set("limit-cut:jaccard,a,b")),
  )

  /** Unique-per-row columns of each source scan: declared table
    * primary keys, plus the TPC-H name columns dbgen derives
    * bijectively from them (`Customer#%09d`, `Supplier#%09d`).
    */
  private val pkCols: Set[String] = Set(
    "r_regionkey", "n_nationkey", "c_custkey", "s_suppkey", "p_partkey",
    "o_orderkey", "doc_id", "vec_id", "event_id", "c_name", "s_name")

  // ---------------------------------------------------------------- //
  // the walk                                                          //
  // ---------------------------------------------------------------- //

  private def stripRowWrappers(p: LogicalPlan): LogicalPlan = p match {
    case f: Filter => stripRowWrappers(f.child)
    case pr: Project => stripRowWrappers(pr.child)
    case sa: SubqueryAlias => stripRowWrappers(sa.child)
    case w: Window => stripRowWrappers(w.child)
    case s: Sort => stripRowWrappers(s.child)
    case other => other
  }

  /** The Sort that defines a Limit's cut order, reached through
    * row-ORDER-preserving nodes only.
    */
  private def cutSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort => Some(s)
    case ll: LocalLimit => cutSort(ll.child)
    case pr: Project => cutSort(pr.child)
    case sa: SubqueryAlias => cutSort(sa.child)
    case other => None
  }

  private[operators] def offendingLimitCuts(df: DataFrame): Set[String] =
    offendingLimitCutsIn(df.queryExecution.analyzed)

  private[operators] def offendingLimitCutsIn(plan: LogicalPlan): Set[String] = {
    val facts = NullProof.collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]

    def keyDefs(sort: Sort): Seq[Expression] =
      sort.order.map(so => NullProof.resolveDefn(so.child, facts, sort.child))

    def coveredBy(e: Expression, keys: Seq[Expression], scope: LogicalPlan): Boolean = {
      val d = NullProof.resolveDefn(e, facts, scope)
      keys.exists(k => k.semanticEquals(d) || k.semanticEquals(e))
    }

    def check(gl: GlobalLimit, usedAbove: AttributeSet): Unit =
      cutSort(gl.child).foreach { sort =>
        val keys = keyDefs(sort)
        val base = stripRowWrappers(sort.child)
        val exactCover = base match {
          case a: Aggregate =>
            a.groupingExpressions.nonEmpty &&
              a.groupingExpressions.forall(coveredBy(_, keys, sort.child))
          case d: Deduplicate => d.keys.forall(coveredBy(_, keys, sort.child))
          case _ => false
        }
        val scanPk = base match {
          case leaf: LeafNode =>
            sort.order.exists(so => so.child match {
              case ar: AttributeReference =>
                facts.leafCols.get(ar.exprId).exists(pkCols.contains) &&
                  leaf.outputSet.contains(ar)
              case _ => false
            })
          case _ => false
        }
        lazy val consumedSubset = {
          val consumed = gl.outputSet.filter(usedAbove.contains)
          consumed.forall(a => coveredBy(a, keys, sort.child))
        }
        if (!exactCover && !scanPk && !consumedSubset)
          bad += s"limit-cut:${sort.order.map(_.child.sql).mkString(",").take(80)}"
      }

    def walk(node: LogicalPlan, usedAbove: AttributeSet): Unit = {
      node match {
        case gl: GlobalLimit => check(gl, usedAbove)
        case _ => ()
      }
      val forChildren = usedAbove ++ node.references
      node.children.foreach(walk(_, forChildren))
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan, sq.plan.outputSet)
        case _ => ()
      })
    }

    walk(plan, plan.outputSet)
    bad.toSet
  }

  // ---------------------------------------------------------------- //
  // falsifiability: the detector itself                               //
  // ---------------------------------------------------------------- //

  test("red-proof: a tie-prone limit cut flags") {
    val docs = graft.Tables(spark, sfDir, "documents")
    // lang has ties everywhere — the cut picks an arbitrary doc subset
    val offender = docs.orderBy(col("lang")).limit(5)
    assert(offendingLimitCutsIn(offender.queryExecution.analyzed).nonEmpty,
      "a non-unique sort key under a LIMIT must flag — the cut is engine/partitioning lottery")
    // grouping keys NOT covered by the sort keys: (lang, source) groups
    // sorted by count alone still tie
    val groupedOffender = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n")).orderBy(col("n").desc).limit(3)
    assert(offendingLimitCutsIn(groupedOffender.queryExecution.analyzed).nonEmpty,
      "count-only ordering over a grouped frame must flag (count ties across groups)")
  }

  test("the detector accepts every determinism proof shape the convention prescribes") {
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingLimitCuts(q)
      assert(off.isEmpty, s"$what flagged: $off")
    }
    val docs = graft.Tables(spark, sfDir, "documents")
    // exact cover: every grouping key rides the sort
    ok(docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang"), col("source")).limit(3),
      "grouped frame with all grouping keys in the sort")
    // scan pk tie-break
    ok(docs.orderBy(col("n_chars").desc, col("doc_id")).limit(5),
      "scan frame with the table pk as tie-break")
    // consumed subset: only the sort key's value survives the cut
    ok(docs.orderBy(col("n_chars")).limit(10).agg(max(col("n_chars")).as("mx")),
      "cut whose only consumed column IS the sort key (value-deterministic ties)")
    // limit without a sort: sample semantics, out of scope
    ok(docs.limit(7), "bare limit (no order claimed)")
  }

  // ---------------------------------------------------------------- //
  // the gate: every declared query                                    //
  // ---------------------------------------------------------------- //

  test("every declared query's sort-backed limit cuts are provably deterministic or exempted with a reason") {
    val offenders = PlanCensus.gate(structurallyTotal)(offendingLimitCuts)
    assert(
      offenders.isEmpty,
      s"sort-backed LIMIT whose cut can tie: add a unique tie-break key to BOTH the Spark " +
        s"sort and the oracle ORDER BY, or allowlist with the structural reason:\n  " +
        offenders.mkString("\n  "))
  }
}
