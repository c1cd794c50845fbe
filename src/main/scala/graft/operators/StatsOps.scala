package graft.operators

import graft.{QuerySpec, Tables}
import graft.pipeline.Network.pearson
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Statistical-inference surface: the readouts an experimentation /
  * data-quality stack computes over event logs at corpus scale.
  *
  *  - q178: per-group OLS regression via the SQL-standard `regr_*`
  *    aggregate family — slope/intercept/R² fold as ONE combinable
  *    moment aggregation (sums of x, y, x², xy per group), so the
  *    whole fit is map-side-combinable scan arithmetic: no second
  *    pass, no residual join, no driver math.
  *  - q179: Mann-Whitney U (the rank test behind every non-parametric
  *    A/B readout). Naively this needs a GLOBAL rank over the pooled
  *    sample — a single-partition window at corpus scale. Here the
  *    sample is first compressed to a value-binned frame (0.1-wide
  *    floor bins: a combinable groupBy), and midranks are reconstructed
  *    EXACTLY on that bins-sized frame from cumulative counts:
  *    midrank(v) = cum_before(v) + (cnt(v)+1)/2. The only window runs
  *    over the bins frame, bounded by the value domain, not the
  *    corpus. Rank sums stay INTEGRAL (doubled-midrank trick:
  *    2·midrank is a whole number), accumulated in DECIMAL(38,0) so
  *    the cubically-growing tie term cannot overflow BIGINT at scale;
  *    U is exact cross-engine; ties are handled by construction
  *    (binning makes the tie correction the point, not a nuisance).
  */
object StatsOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** q179's variance term with the degenerate samples DECLARED (r16
    * ANSI-division sweep): with nn = 1 the tie correction divides by
    * nn·(nn−1) = 0 — ANSI throws where DuckDB NULLs; a single-row
    * slice has no defined U test, so sigma2 is NULL there. (An empty
    * side gives sigma2 = 0.0 exactly, handled by [[mwZ]].) Shared with
    * q209's degenerate probe so the gate exercises THIS expression.
    */
  /** q179's binned-midrank frame, shared with q209's NULL-ordering
    * probe (VERDICT r17 #3) so the gate exercises THIS expression, not
    * a copy: takes a (keys..., v, is_a) sample, EXCLUDES NULL bins —
    * a NULL-valued measurement has no rank, and without the filter it
    * forms a NULL bin whose POSITION the two engines sort differently
    * (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), silently shifting
    * every midrank (the r17 q179 find; NullOrderingConventionSpec is
    * the mechanical sweep) — then rebuilds exact doubled midranks
    * (r2 = 2·cum_before + cnt + 1, integral) from cumulative counts on
    * the bins-sized frame. The window runs per key group (global for
    * q179's empty key set), bounded by the value domain, never the
    * corpus.
    */
  private[graft] def mwRankedBins(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val bins = ev
      .filter(col("v").isNotNull)
      .groupBy((keys :+ "v").map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col("is_a")).as("ca"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("r2", lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
  }

  private[graft] def mwSigma2(nA: Column, nB: Column, nn: Column, ties: Column): Column =
    when(nn > 1,
      nA.cast("double") * nB / lit(12.0) *
        ((nn + lit(1L)).cast("double") -
          ties.cast("double") / (nn.cast("double") * (nn - lit(1L)))))

  /** q179's z statistic: sigma2 is exactly 0.0 for a one-sided sample
    * (n_a·n_b = 0) — ANSI throws on the division where DuckDB NULLs;
    * z is declared NULL, the counts and u_stat still report (r16
    * ANSI-division sweep). Shared with q209's degenerate probe.
    */
  private[graft] def mwZ(uStat: Column, nA: Column, nB: Column, sigma2: Column): Column =
    round(when(sigma2 > 0.0d,
      (uStat - nA.cast("double") * nB / lit(2.0)) / sqrt(sigma2)), 4)

  /** q194's shift readout with the zero-variance reference DECLARED:
    * a constant-valued reference half has sd_ref = 0.0 exactly (not
    * NULL) — ANSI throws where DuckDB NULLs; a zero-variance reference
    * supports no shift measurement, so the column is NULL (r16
    * ANSI-division sweep). Shared with q209's degenerate probe.
    */
  private[graft] def meanShiftSd(mLive: Column, mRef: Column, sdRef: Column): Column =
    round(when(sdRef =!= 0.0d, (mLive - mRef) / sdRef), 4)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      // Per-nation price~quantity fit over the supplier dimension:
      // lineitem joins the 100-row supplier dim and the 25-row nation
      // dim (both broadcast), then ONE moment aggregation per nation.
      // At 100 TB this is scan-speed: the fact table never shuffles
      // on anything but the 25-key group.
      "q178_group_regression",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(
            regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
            round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
            round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
            round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
      },
      Some(
        "SELECT n.n_name AS nation, " +
          "CAST(regr_count(l.l_extendedprice, l.l_quantity) AS BIGINT) AS n, " +
          "round(regr_slope(l.l_extendedprice, l.l_quantity), 4) AS slope, " +
          "round(regr_intercept(l.l_extendedprice, l.l_quantity), 4) AS intercept, " +
          "round(regr_r2(l.l_extendedprice, l.l_quantity), 6) AS r2 " +
          "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
          "JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY 1"),
    ),
    QuerySpec(
      // Binned Mann-Whitney U: does `click` revenue stochastically
      // dominate `purchase` revenue? The pooled sample is compressed
      // to 0.1-wide value bins FIRST (combinable groupBy — the 100 TB
      // move), midranks are rebuilt exactly on the bins frame, and
      // every rank-sum stays integral: 2·midrank(v) =
      // 2·cum_before(v) + cnt(v) + 1 is a BIGINT, so
      // 2·R_A = Σ ca·(2·midrank) and 2·U = 2·R_A − n_a(n_a+1) are
      // exact on both engines; doubles appear only in the final
      // z-statistic (with the standard tie correction, which the
      // binning makes material and the formula handles exactly).
      "q179_mann_whitney",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          // a NULL-valued measurement has no rank: this filter (kept
          // here so the predicate pushes to the scan) and the shared
          // mwRankedBins NULL-bin exclusion below are the SAME
          // population rule — the r17 q179 find (Spark ASC NULLS FIRST
          // vs DuckDB NULLS LAST silently shifts every midrank),
          // statistically correct for the U test, mirrored in the
          // oracle, and since r18 driven through q209's mw_rank probe
          // so a regression fails CORRECTNESS itself.
          .filter(col("value").isNotNull)
          .select(
            // floor(value·10), not round(value,1): floor of one IEEE
            // multiply is bit-identical cross-engine; round() rounding
            // modes (HALF_UP BigDecimal vs half-away) can disagree on
            // boundary doubles and shift a row across bins.
            floor(col("value") * lit(10.0)).cast("long").as("v"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"))
        val ranked = mwRankedBins(ev, Nil)
        // DECIMAL(38,0) accumulators for the two cubically/quadratically
        // growing sums (r15 operators review): in BIGINT, cnt³ in the
        // tie term overflows at ~2.1M rows per bin (a point mass —
        // exactly the tie-heavy shape the binning serves) and ra2 at
        // ~2.1B pooled rows — under ANSI that kills the query, non-ANSI
        // it wraps silently. 38 digits carry both to ~1e12 rows/bin.
        // The ~1e12 claim holds only because u2 below ALSO multiplies
        // n_a*(n_a+1) in decimal (r15 ADVICE): a bigint*bigint product
        // there dies at n_a ≈ 3.0e9, barely past the ra2 fix. The
        // sigma2/z terms stay double on purpose — their domain is
        // precision (the result IS a double), not overflow.
        // Outputs are unchanged (n_a/n_b stay BIGINT; u_stat/z are the
        // same doubles), so the oracle — whose DuckDB sums are HUGEINT
        // already — is untouched.
        val agg = ranked.agg(
          sum(col("ca")).as("n_a"),
          sum(col("cnt") - col("ca")).as("n_b"),
          sum(col("ca").cast("decimal(38,0)") * col("r2")).as("ra2"),
          sum(col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt") - col("cnt"))
            .as("ties"))
        agg
          .withColumn("u2",
            col("ra2") - col("n_a").cast("decimal(38,0)") * (col("n_a") + lit(1L)))
          .withColumn("nn", col("n_a") + col("n_b"))
          .withColumn("u_stat", col("u2").cast("double") / lit(2.0))
          // degenerate-sample guards live in the shared mwSigma2/mwZ
          // (single-row slice → sigma2 NULL; one-sided sample →
          // sigma2 = 0.0 → z NULL)
          .withColumn("sigma2", mwSigma2(col("n_a"), col("n_b"), col("nn"), col("ties")))
          .withColumn("z", mwZ(col("u_stat"), col("n_a"), col("n_b"), col("sigma2")))
          .select(col("n_a"), col("n_b"), col("u_stat"), col("z"))
      },
      Some(
        "WITH ev AS (SELECT CAST(floor(value * 10.0) AS BIGINT) AS v, " +
          "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a " +
          "FROM events WHERE event_type IN ('click', 'purchase') " +
          "AND value IS NOT NULL), " +
          "bins AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(is_a) AS BIGINT) AS ca " +
          "FROM ev GROUP BY 1), " +
          "ranked AS (SELECT v, cnt, ca, " +
          "SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
          "FROM bins), " +
          "agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cnt - ca) AS BIGINT) AS n_b, " +
          "CAST(SUM(ca * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS ra2, " +
          "CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties FROM ranked) " +
          "SELECT n_a, n_b, " +
          "CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat, " +
          "round((CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0) / " +
          "sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0 * (CAST(n_a + n_b + 1 AS DOUBLE) - " +
          "CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))), 4) AS z " +
          "FROM agg"),
    ),
    QuerySpec(
      // Exact weighted median (quantity weighted by revenue) — the
      // "half the DOLLARS ship at or below this quantity" statistic.
      // Same compression move as q179: the corpus folds to a
      // (flag × quantity)-keyed frame first (combinable groupBy over
      // ≤ 3×50 cells), cumulative weights run over that tiny frame,
      // and the median is the least value whose doubled cumulative
      // weight reaches the total. Weights are DECIMAL(18,2)
      // end-to-end, so the cumw·2 ≥ total boundary is EXACT on both
      // engines — a double-summed weight could flip the selected cell
      // by one ULP; exact money math cannot.
      "q191_weighted_median",
      (s, dir) => {
        val cells = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
          .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).as("w"))
        val win = Window.partitionBy("l_returnflag").orderBy("qty")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy("l_returnflag")
        cells
          .withColumn("cumw", sum(col("w")).over(win))
          .withColumn("total", sum(col("w")).over(tot))
          .filter(col("cumw") * 2 >= col("total"))
          .groupBy(col("l_returnflag"))
          .agg(
            min(col("qty")).as("w_median_qty"),
            // min, not first (r15 operators review): total is constant
            // per group TODAY, but first() is documented
            // order-dependent — an edit to the partition keys would
            // turn it nondeterministic with no error, and the oracle
            // uses MIN(total); same cost, deterministic by contract
            min(col("total")).cast("double").as("total_weight"))
      },
      Some(
        "WITH cells AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, " +
          "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS w FROM lineitem GROUP BY 1, 2), " +
          "c AS (SELECT l_returnflag, qty, " +
          "SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, " +
          "SUM(w) OVER (PARTITION BY l_returnflag) AS total FROM cells) " +
          "SELECT l_returnflag, MIN(qty) AS w_median_qty, " +
          "CAST(MIN(total) AS DOUBLE) AS total_weight " +
          "FROM c WHERE cumw * 2 >= total GROUP BY 1"),
    ),
    QuerySpec(
      // Metric correlation matrix — which event streams move together
      // day to day (the ops dashboard's "are errors tracking
      // traffic?"). Daily per-type totals fold combinably; the
      // days-sized frame then self-joins on the day key (type-pair ×
      // days rows, bounded by 5²·days — never corpus-shaped) and each
      // pair folds through the co-moment aggregates in one pass
      // (Network.pearson: NULL r, not a throw, on a constant series).
      // Deterministic pair orientation (ta < tb) halves the matrix.
      "q193_metric_corr",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("d"), col("event_type"))
          .agg(count(lit(1)).cast("double").as("v"))
        val a = daily.select(col("d"), col("event_type").as("ta"), col("v").as("va"))
        val b = daily.select(col("d"), col("event_type").as("tb"), col("v").as("vb"))
        a.join(b, Seq("d"))
          .filter(col("ta") < col("tb"))
          .groupBy("ta", "tb")
          .agg(
            count(lit(1)).as("n_days"),
            round(pearson(col("va"), col("vb")), 4).as("r"))
      },
      Some(
        "WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type, " +
          "CAST(COUNT(*) AS DOUBLE) AS v FROM events GROUP BY 1, 2) " +
          "SELECT a.event_type AS ta, b.event_type AS tb, " +
          "CAST(COUNT(*) AS BIGINT) AS n_days, round(corr(a.v, b.v), 4) AS r " +
          "FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type " +
          "GROUP BY 1, 2"),
    ),
    QuerySpec(
      // Distribution drift monitor — compare the live half of the log
      // against the reference half, per event type: count ratio, mean
      // shift in reference-σ units, and the
      // rate-of-change verdict a pipeline alerts on. Deterministic
      // halves (day-of-month split), everything combinable, the
      // comparison row-local on the 5-type frame. This is the
      // training-data freshness check run before every corpus refresh.
      "q194_drift_monitor",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("half",
            when(dayofmonth(col("ts")) <= 15, "ref").otherwise("live"))
        val stats = ev.groupBy("event_type", "half")
          .agg(
            count(lit(1)).as("n"),
            avg(col("value")).as("mean"),
            stddev_samp(col("value")).as("sd"))
        val ref = stats.filter(col("half") === "ref")
          .select(col("event_type"), col("n").as("n_ref"),
            col("mean").as("m_ref"), col("sd").as("sd_ref"))
        val live = stats.filter(col("half") === "live")
          .select(col("event_type"), col("n").as("n_live"), col("mean").as("m_live"))
        ref.join(live, Seq("event_type"))
          .select(
            col("event_type"),
            col("n_ref"), col("n_live"),
            round(col("n_live") / col("n_ref").cast("double"), 4).as("count_ratio"),
            // zero-variance-reference guard lives in the shared
            // meanShiftSd; n_ref is structurally >= 1 (the ref row
            // only exists for grouped rows)
            meanShiftSd(col("m_live"), col("m_ref"), col("sd_ref")).as("mean_shift_sd"))
      },
      Some(
        "WITH st AS (SELECT event_type, " +
          "CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 'ref' ELSE 'live' END AS half, " +
          "CAST(COUNT(*) AS BIGINT) AS n, AVG(value) AS mean, STDDEV_SAMP(value) AS sd " +
          "FROM events GROUP BY 1, 2) " +
          "SELECT r.event_type, r.n AS n_ref, l.n AS n_live, " +
          "round(l.n / CAST(r.n AS DOUBLE), 4) AS count_ratio, " +
          "round((l.mean - r.mean) / r.sd, 4) AS mean_shift_sd " +
          "FROM st r JOIN st l ON r.event_type = l.event_type " +
          "AND r.half = 'ref' AND l.half = 'live'"),
    ),
    QuerySpec(
      // Day-of-week seasonality profile — the first decomposition any
      // metrics series gets: per weekday, mean daily event volume and
      // its seasonal index against the all-days mean, plus the
      // weekday's volatility. Daily totals fold combinably
      // (days-sized frame), the weekday profile is a 7-key fold, and
      // the global mean rides a single window over the days frame —
      // nothing touches the corpus twice. dayofweek is calendar
      // arithmetic on DATE, identical cross-engine in a fixed-UTC
      // session.
      "q201_seasonality",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("d"))
          .agg(count(lit(1)).cast("double").as("v"))
        val overall = Window.partitionBy()
        daily
          .withColumn("global_mean", avg(col("v")).over(overall))
          .groupBy(dayofweek(col("d")).cast("long").as("dow"))
          .agg(
            count(lit(1)).as("n_days"),
            round(avg(col("v")), 4).as("mean_volume"),
            round(stddev_samp(col("v")), 4).as("sd_volume"),
            round(avg(col("v") / col("global_mean")), 6).as("seasonal_index"))
      },
      Some(
        "WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS v " +
          "FROM events GROUP BY 1), " +
          "g AS (SELECT d, v, AVG(v) OVER () AS global_mean FROM daily) " +
          // DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday
          "SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow, CAST(COUNT(*) AS BIGINT) AS n_days, " +
          "round(AVG(v), 4) AS mean_volume, round(STDDEV_SAMP(v), 4) AS sd_volume, " +
          "round(AVG(v / global_mean), 6) AS seasonal_index " +
          "FROM g GROUP BY 1"),
    ),
    QuerySpec(
      // Join-cardinality estimation by key-histogram SAMPLING — the
      // optimizer diagnostic run before committing to a join order:
      // |A ⋈ B| = Σ_k n_A(k)·n_B(k), estimated from the deterministic
      // 1-in-10 md5 key-sample and scaled by 10. Per-key counts fold
      // combinably on the sampled keys only (a 10th of the key
      // domain), the product-sum is one join of two key-histograms,
      // and the q12b-style gate pins the estimate within 30% of the
      // exactly-computed cardinality (also emitted and fully checked).
      // Deterministic sample → one fixed draw, no flake.
      "q202_join_card_estimate",
      (s, dir) => {
        val ha = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("na"))
        val hb = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("nb"))
        ha.join(hb, Seq("k"))
          // exact and sampled-estimate fold in the SAME aggregation —
          // one histogram join, no single-row cross join anywhere
          .withColumn("sampled",
            pmod(expr("CAST(conv(substr(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS BIGINT)"),
              lit(10)) === 0)
          .agg(
            sum(col("na") * col("nb")).as("exact_card"),
            (sum(when(col("sampled"), col("na") * col("nb")).otherwise(0L)) * 10)
              .as("est_card"))
          .select(
            col("exact_card"),
            (abs(col("est_card") - col("exact_card")) <=
              col("exact_card") * 0.30).as("within_tol"))
      },
      Some(
        "SELECT (SELECT CAST(SUM(na * nb) AS BIGINT) FROM " +
          "(SELECT l_orderkey AS k, COUNT(*) AS na FROM lineitem GROUP BY 1) a JOIN " +
          "(SELECT o_orderkey AS k, COUNT(*) AS nb FROM orders GROUP BY 1) b USING (k)) " +
          "AS exact_card, true AS within_tol"),
    ),
  )
}
