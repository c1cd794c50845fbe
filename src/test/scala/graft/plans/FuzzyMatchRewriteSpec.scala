package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.expressions.Levenshtein

/** Gates for q92's fuzzy-match predicate, written as a length guard +
  * the built-in thresholded (banded) Levenshtein: the optimized plan
  * must carry both, and the query must return exactly the rows of the
  * plain `levenshtein(a, b) <= 14` form (the guard and the threshold
  * are pure pruning/strength reduction).
  */
class FuzzyMatchRewriteSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q92's optimized plan uses thresholded levenshtein behind a length guard") {
    val df = SparkEntry.queries("q92_fuzzy_dedup")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan
    val levs = optimized.collect { case p => p }.flatMap(_.expressions)
      .flatMap(_.collect { case l: Levenshtein => l })
    // the projected distance too: the full O(m·n) DP runs nowhere
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"missing or unthresholded levenshtein in:\n$optimized")
    val s = optimized.toString
    // (a past copy-paste had this condition OR'd with itself — one
    // spelling is the real gate)
    assert(s.contains("abs((length("), s"no length guard in:\n$s")
  }

  test("rewrite preserves the result set exactly") {
    import org.apache.spark.sql.functions._
    val banded = SparkEntry.queries("q92_fuzzy_dedup")(spark, dir)
      .collect().map(_.toSeq).toSet
    // The unthresholded reference mirrors q92's blocking — (lang, tok1)
    // plus the prefix-SimHash band dimension — so the ONLY difference
    // under test is the predicate form; q92's blocking semantics
    // themselves are gated by the DuckDB oracle, not here.
    val blocks = graft.operators.DedupOps.fuzzyBlocks(spark, dir)
    val plain = blocks.as("a")
      .join(
        blocks.as("b"),
        col("a.lang") === col("b.lang") && col("a.tok1") === col("b.tok1") &&
          col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .distinct()
      .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("bigint"))
      .filter(col("dist") <= 14)
      .select(col("da"), col("db"), col("dist"))
      .collect().map(_.toSeq).toSet
    assert(banded == plain)
    assert(banded.nonEmpty) // non-vacuous at the dev scale too
  }
}
