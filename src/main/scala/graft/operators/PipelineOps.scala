package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LUAD pipeline's operators (graft.pipeline.*) exercised over the
  * driver fixtures so the DuckDB gate covers them: the pipeline's own
  * corpus isn't part of the fixture set, so each operator runs on a COO
  * view of the TPC-H-ish tables with equivalent-SQL oracles where
  * expressible (ALS/SVM are not SQL-expressible — rows-only here,
  * golden-checked in ScalaTest instead).
  */
object PipelineOps {

  /** COO view of lineitem: sample = l_orderkey, probe = l_linenumber,
    * value = l_quantity. Orders have 1-7 lineitems → a sparse 7-probe
    * matrix with plenty of co-occurrence.
    */
  private def coo(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(
      col("l_orderkey").cast("int").as("sample"),
      col("l_linenumber").cast("int").as("probe"),
      col("l_quantity").cast("double").as("value"))

  /** COO with one entry per cell — the fixture's (orderkey, linenumber)
    * is NOT unique (unlike real TPC-H), so duplicate cells are summed
    * (the documented Q4 dedup policy).
    */
  private def cooDedup(s: SparkSession, dir: String): DataFrame =
    coo(s, dir).groupBy("sample", "probe").agg(sum(col("value")).as("value"))

  /** q38/q38b's graph: customers chained by consecutive key within a
    * nation → path components. CUSTOMERS, not suppliers: at sf0.001 the
    * ten suppliers land in ten distinct nations, so a supplier-keyed
    * edge set is empty and the CC gates would be vacuous at the dev
    * scale; customers share nations at every sf.
    */
  private def ccEdges(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").cast("int").as("k"), col("c_nationkey").as("n"))
    cust.as("a")
      .join(cust.as("b"), expr("a.n = b.n AND b.k = a.k + 1"))
      .select(col("a.k").as("pi"), col("b.k").as("pj"))
  }

  /** Min-reachable-id label propagation as a recursive CTE over the
    * symmetrized edge set — component = min id reachable. Shared by
    * q38 (GraphX path) and q38b (DataFrame-only path).
    */
  private val ccOracleSql: String =
    "WITH RECURSIVE e AS (" +
      "SELECT a.c_custkey AS src, b.c_custkey AS dst FROM customer a " +
      "JOIN customer b ON a.c_nationkey = b.c_nationkey AND b.c_custkey = a.c_custkey + 1), " +
      "sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), " +
      "reach(id, comp) AS (" +
      "SELECT src, src FROM sym UNION " +
      "SELECT sym.dst, reach.comp FROM reach JOIN sym ON reach.id = sym.src) " +
      "SELECT CAST(id AS BIGINT) AS node, CAST(MIN(comp) AS BIGINT) AS component " +
      "FROM reach GROUP BY id"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q37_pearson_pairs",
      (s, dir) =>
        graft.pipeline.Network.pearsonEdges(coo(s, dir), 0.0)
          .select(col("pi"), col("pj"), round(col("r"), 6).as("r")),
      Some(
        // DuckDB's corr() on the sample-aligned self-join is the same
        // statistic pearsonEdges computes from the co-moments
        "SELECT a.l_linenumber AS pi, b.l_linenumber AS pj, " +
          "round(corr(a.l_quantity, b.l_quantity), 6) AS r " +
          "FROM lineitem a JOIN lineitem b " +
          "ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber " +
          "GROUP BY 1, 2 HAVING corr(a.l_quantity, b.l_quantity) IS NOT NULL"),
    ),
    QuerySpec(
      "q38_connected_components",
      (s, dir) =>
        graft.pipeline.Network.connectedComponents(s, ccEdges(s, dir))
          .select(
            col("probe").cast("bigint").as("node"),
            col("component").cast("bigint").as("component")),
      Some(ccOracleSql),
    ),
    QuerySpec(
      // Same graph/oracle as q38, computed by the DataFrame-only CC
      // path (iterative min-label propagation, no GraphX) — gates the
      // SQL-engine-only route to components, not just the Pregel one.
      "q38b_connected_components_df",
      (s, dir) =>
        graft.pipeline.Network.connectedComponentsDF(ccEdges(s, dir))
          .select(
            col("probe").cast("bigint").as("node"),
            col("component").cast("bigint").as("component")),
      Some(ccOracleSql),
    ),
    QuerySpec(
      // ALS matrix completion on the COO view. The cell VALUES are not
      // SQL-expressible (RMSE/determinism golden-checked in
      // CompletionSpec), but the completion CONTRACT is: the output
      // must be exactly the full sample×probe grid — every observed
      // row unchanged plus one predicted row per absent coordinate,
      // no NaN. Those invariants are pure grid arithmetic over the
      // input, so DuckDB can oracle-check them: n_cells = observed
      // rows + (|samples|×|probes| − distinct observed pairs),
      // sum_observed = the input's value sum (observed cells pass
      // through untouched). Bounded to 200 samples so the bench-tier
      // run stays O(seconds): completion cost scales with the GRID.
      "q39_als_complete",
      (s, dir) => {
        val m = coo(s, dir).filter(col("sample") < 200)
        val completed = graft.pipeline.Completion.complete(
          s, m,
          graft.pipeline.Completion.AlsParams(
            rank = 4, maxIter = 4, regParam = 0.1, numBlocks = 8))
        val observedCoords = m.select("sample", "probe").distinct()
          .withColumn("obs", lit(1))
        completed
          .join(observedCoords, Seq("sample", "probe"), "left")
          .agg(
            count(lit(1)).as("n_cells"),
            sum(when(isnan(col("value")), 1L).otherwise(0L)).as("n_nan"),
            countDistinct(col("probe")).as("n_probes"),
            countDistinct(col("sample")).as("n_samples"),
            expr("CAST(SUM(CASE WHEN obs = 1 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)")
              .as("sum_observed"))
      },
      Some(
        "WITH m AS (SELECT CAST(l_orderkey AS INT) AS sample, " +
          "CAST(l_linenumber AS INT) AS probe, CAST(l_quantity AS DOUBLE) AS value " +
          "FROM lineitem WHERE l_orderkey < 200), " +
          "d AS (SELECT COUNT(*) AS n_rows, COUNT(DISTINCT sample) AS n_s, " +
          "COUNT(DISTINCT probe) AS n_p, " +
          "(SELECT COUNT(*) FROM (SELECT DISTINCT sample, probe FROM m)) AS n_pairs, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s FROM m) " +
          "SELECT CAST(n_rows + n_s * n_p - n_pairs AS BIGINT) AS n_cells, " +
          "CAST(0 AS BIGINT) AS n_nan, CAST(n_p AS BIGINT) AS n_probes, " +
          "CAST(n_s AS BIGINT) AS n_samples, s AS sum_observed FROM d"),
    ),
    QuerySpec(
      // LinearSVC train/predict on features assembled from the COO view
      // (label: high-value order). The decision VALUES are
      // model-dependent (recovery golden-checked in SvmSpec); the
      // prediction CONTRACT is SQL arithmetic: exactly ONE prediction
      // per eligible sample (the id rides through transform — no dup,
      // no loss) and every prediction on the ±1 codebook. Both are
      // DuckDB-checkable from the input alone.
      "q40_svm_predict",
      (s, dir) => {
        val m = cooDedup(s, dir).filter(col("sample") < 2000)
        // complete the 7-probe grid with zeros so vectors align
        val grid = m.select("sample").distinct()
          .crossJoin(m.select("probe").distinct())
        val dense = grid
          .join(m, Seq("sample", "probe"), "left")
          .withColumn("value", coalesce(col("value"), lit(0.0)))
        val features = graft.pipeline.Svm.assembleFeatures(dense)
        val labels = Tables(s, dir, "orders")
          .select(
            col("o_orderkey").cast("int").as("sample"),
            (col("o_totalprice") > 150000.0).as("tumorous"))
          .join(features.select("sample"), "sample")
        val model = graft.pipeline.Svm.train(
          s, features, labels, graft.pipeline.Svm.SvmParams(maxIter = 5))
        graft.pipeline.Svm.predict(model, features)
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("sample")).as("n_samples"),
            sum(when(abs(col("prediction")) =!= 1.0, 1L).otherwise(0L))
              .as("n_offcodebook"))
      },
      Some(
        "SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_rows, " +
          "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_samples, " +
          "CAST(0 AS BIGINT) AS n_offcodebook " +
          "FROM lineitem WHERE l_orderkey < 2000"),
    ),
  )
}
