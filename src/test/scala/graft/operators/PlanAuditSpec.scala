package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Plan audit over the ENTIRE declared query surface: no query may
  * compile to an unintended cartesian product or broadcast nested-loop
  * join — the two plan shapes that silently explode at 100 TB.
  * Allowlist: queries whose semantics genuinely need one (explicit
  * cross joins; tiny broadcast query-sets in the ANN operators), each
  * pinned to the exact operator names it is excused for, so an entry
  * whose nested-loop join has gone away fails as dead.
  */
class PlanAuditSpec extends SparkSpec {

  private val bnlj = Set("BroadcastNestedLoopJoin")

  private val allowNestedLoop: Map[String, (String, Set[String])] = Map(
    "q09_join_cross" -> ("explicit cross join (5×25 rows)", bnlj),
    "q30_cosine_topk" -> ("deliberate crossJoin of a ≤10-row broadcast query-vector side", bnlj),
    "q31_ann_ivf" -> ("deliberate crossJoin of a ≤10-row broadcast centroid side", bnlj),
    "q28_simhash" -> ("the stop-shingle filter joins against a broadcast SINGLE-ROW corpus count (the scalar-subquery shape — O(n) pass, not a pair explosion)", bnlj),
    "q28b_simhash64" -> ("q28's stop-shingle SINGLE-ROW corpus count", bnlj),
    "q52_bm25" -> ("the corpus stats (N, avgdl) are a broadcast SINGLE-ROW cross join", bnlj),
    "q98_tfidf_top_terms" -> ("SINGLE-ROW corpus doc count broadcast into the scoring join", bnlj),
    "q101_token_budget" -> ("SINGLE-ROW corpus token totals broadcast into the scoring join", bnlj),
    "q104_gapfill" -> ("the calendar spine × distinct-type cross is days × types — both sides tiny by construction", bnlj),
    "q108_histogram" -> ("the histogram bounds are a SINGLE-ROW broadcast cross", bnlj),
    "q115_source_divergence" -> ("SINGLE-ROW corpus totals broadcast-crossed into the per-source frame", bnlj),
    "q116_itemset_pairs" -> ("the global basket count is a SINGLE-ROW broadcast cross", bnlj),
    "q118_pareto_customers" -> ("the grand revenue total is a SINGLE-ROW broadcast cross", bnlj),
    "q129_rowwise_minhash" -> ("the corpus stop-shingle set rides in as a broadcast SINGLE-ROW array (the scalar-subquery shape, same family as q28)", bnlj),
    "q135_interpolate" -> ("the q104 calendar-spine shape — single-row bounds feed the spine, crossed with the tiny distinct type set", bnlj),
    "q145_ts_similarity" -> ("SINGLE-ROW date bounds broadcast + users × days spine — both sides dimension-sized by construction (q104 family)", bnlj),
    "q151_hard_negatives" -> ("q30's deliberate shape — a ≤8-row broadcast query-vector set crossed into one corpus scan for triplet mining", bnlj),
    "q203_naive_bayes" -> ("the per-class constant frame (≤5 rows, bounded by the class schema) broadcast-crossed into the test-doc frame — the q30 family; the corpus-sized work is the token equi-join", bnlj),
  )

  /** Nested-loop operator names in `df`'s physical plan. */
  private[operators] def offendingNestedLoops(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.executedPlan.toString
    Set("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
  }

  test("no query plans a cartesian/broadcast-nested-loop join unintentionally") {
    val offenders = PlanCensus.gate(allowNestedLoop)(offendingNestedLoops)
    assert(offenders.isEmpty, s"unintended nested-loop plans:\n  " + offenders.mkString("\n  "))
  }
}
