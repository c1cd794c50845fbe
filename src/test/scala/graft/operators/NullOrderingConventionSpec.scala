package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, LeafNode, LogicalPlan, Project, Sort, Union}
import org.apache.spark.sql.functions._

/** Mechanical enforcement of the cross-engine NULL-ordering convention
  * (the r17 q179 find, mechanized per VERDICT r17 #1).
  *
  * Spark sorts ASC with NULLS FIRST by default; DuckDB sorts NULLS
  * LAST in BOTH directions (pinned empirically on the oracle build:
  * ASC [1, 2, NULL], DESC [2, 1, NULL], identically inside window
  * ORDER BYs). So any VALUE-AFFECTING sort on a genuinely nullable
  * NULLS-FIRST key — a window ordering feeding rank/midrank/cumulative
  * frames, an ORDER BY under a LIMIT cut, a sort feeding stateful
  * per-partition logic — silently diverges cross-engine the moment a
  * NULL reaches the key: no error, no gate failure (the fixtures carry
  * ZERO NULLs, verified column-by-column at sf0.01, so the oracle gate
  * is structurally blind — exactly like the ANSI division class), just
  * shifted ranks. q179's NULL-bin midrank shift was found by HAND in
  * r17; this spec is that sweep as a machine, in the
  * DivisionConventionSpec mold: walk every declared query's ANALYZED
  * plan and flag any SortOrder with nullOrdering = NullsFirst (the
  * divergent placement: Spark's ASC default, or an explicit
  * desc_nulls_first) whose key is not provably non-NULL.
  *
  * Spark's own static `nullable` is useless here — it hardcodes TRUE
  * for cast/floor/md5/datediff/pmod even over non-nullable inputs — so
  * the detector carries its own null-propagation evaluator, leaning on
  * the session's ANSI contract: under ANSI, CAST / division /
  * element_at THROW on bad non-null input instead of returning NULL,
  * which makes them NULL-PRESERVING-TOTAL (non-null in → non-null out,
  * or no row at all). A key is proven non-null by:
  *
  *  - being a non-null literal, a total function of proven inputs
  *    (arithmetic, ANSI casts, hashes, string/date kernels — the
  *    pinned whitelist in [[NullProof.nonNull]]), a rank-family window function,
  *    or a grouped MAX/MIN/SUM/AVG/FIRST/LAST over a proven child (a
  *    grouped aggregate's group exists only with ≥ 1 row);
  *  - a SUBTREE-SCOPED null-rejecting Filter / Inner-join / semi-join
  *    condition below the sorting operator (`x.isNotNull`, any
  *    comparison, IN — a NULL key makes the predicate NULL and drops
  *    the row; the q179 fix shape). Facts are deliberately NOT
  *    plan-global: a join ABOVE a window that would eventually drop
  *    the NULL rows does not un-shift the ranks the window already
  *    assigned (the q124 histogram shape this spec's first walk
  *    surfaced);
  *  - the DATA CONTRACT: the key's leaves all trace to parquet-scan
  *    columns the engine contracts non-null — every TPC-H-table column
  *    (the TPC-H spec declares all columns NOT NULL) plus the
  *    synthetic tables' identity/type/time spine (doc_id, event_id,
  *    user_id, ts, event_type, vec_id: a row without identity, time,
  *    or its routing type is ingest-reject territory by the q45 loud
  *    convention). PAYLOAD columns (value, props, text, lang, source,
  *    n_chars, embedding, label) are deliberately NOT contracted —
  *    measurements and crawled payloads are exactly where 100 TB
  *    production NULLs live. Attributes riding the null side of an
  *    OUTER join or the output of a UNION (whose branches mix rows
  *    under the first branch's ExprIds) are excluded from every
  *    attribute-level proof path;
  *  - or an allowlist entry below with a written structural reason,
  *    pinned to the exact key-SQL set it excuses (dead entries and new
  *    riders both fail — the OracleConventionSpec exemption
  *    discipline).
  *
  * SCOPE — value-affecting sorts only. A Sort whose path to the plan
  * root crosses only Project/Sort nodes is PRESENTATION ordering: the
  * driver's checker canonicalizes row order on both sides
  * (tools/check.py canon()), so final-output NULL placement cannot
  * diverge a compared value; flagging ~150 presentation orderBys would
  * bury the real class in allowlist noise. Everything else — window
  * orderSpecs, sorts under Limit, sorts feeding typed per-partition
  * logic, sorts inside subqueries — is scanned. NullsLast keys agree
  * with DuckDB in both directions and are safe by construction.
  * Array-function ordering (array_sort/sort_array NULL placement) is a
  * different, non-SortOrder surface with its own divergence matrix —
  * mechanized since r19 as [[ArrayOrderingConventionSpec]] (VERDICT
  * r18 #3), sharing this spec's prover.
  *
  * Since r19 the prover itself lives in [[NullProof]] — ONE evaluator
  * for both ordering walks — carrying the three r18 ADVICE soundness
  * fixes (size() inversion, three-valued NOT/AND/OR, concat_ws
  * separator; each red-proofed below) and the static nullable=false
  * fast path that retired the q195 allowlist entry.
  */
class NullOrderingConventionSpec extends SparkSpec {

  import PlanCensus.sfDir

  /** query -> (why each pinned NullsFirst key cannot carry a NULL, the
    * exact key-SQL set excused). Two of the three are CHECKPOINT
    * OPACITY, not semantics: localCheckpoint truncates lineage to a
    * LogicalRDD leaf, so the scan cannot trace a key it could
    * otherwise prove — the reason must spell out the pre-checkpoint
    * derivation. (q195's entry retired in r19: xxhash64 types
    * statically non-nullable, which the [[NullProof]] fast path now
    * reads through the checkpoint — the dead-entry discipline forced
    * the removal.)
    */
  private val structurallySafeOrder: Map[String, (String, Set[String])] = Map(
    "q190_path_trigrams" -> ("e2 = LEAD(event_type, 1) under the e3 = LEAD(event_type, 2) isNotNull filter: event_type is contract non-null, so LEAD(k) is NULL only past the partition end — NULL-monotone in k, and e3 non-null implies row i+1 exists, hence e2 non-null",
      Set("e2")),
    "q150_quantile_shard_merge" -> ("bin crosses the persisted shard-state localCheckpoint (LogicalRDD — untraceable); it is floor(o_totalprice / 5000.0) via an ANSI cast, total over the contract-non-null o_totalprice",
      Set("bin")),
    "q149_concurrency_sweep" -> ("all three keys cross the boundary-list localCheckpoint: ts = grouped MIN/MAX over the contract-non-null events.ts, hr = date_trunc('HOUR', ts) (total, literal format), user_id is contract non-null",
      Set("hr", "ts", "user_id")),
  )

  // ---------------------------------------------------------------- //
  // the walk                                                         //
  // ---------------------------------------------------------------- //

  /** All value-affecting NullsFirst sort keys in `df`'s analyzed plan
    * that are not provably non-null, as key-SQL strings.
    */
  private[operators] def offendingSortKeys(df: DataFrame): Set[String] =
    offendingSortKeysIn(df.queryExecution.analyzed)

  private[operators] def offendingSortKeysIn(plan: LogicalPlan): Set[String] = {
    val facts = NullProof.collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]

    def check(so: SortOrder, scope: LogicalPlan, grouped: Boolean): Unit =
      if (so.nullOrdering == NullsFirst &&
          !NullProof.nonNull(so.child, facts, scope, grouped, 0)) bad += so.child.sql

    def exprSorts(e: Expression, scope: LogicalPlan, grouped: Boolean): Unit = e.foreach {
      case so: SortOrder => check(so, scope, grouped)
      case sq: SubqueryExpression => walk(sq.plan, presentation = false)
      case _ => ()
    }

    def walk(node: LogicalPlan, presentation: Boolean): Unit = node match {
      case s: Sort =>
        if (!presentation) s.order.foreach(check(_, s.child, grouped = false))
        walk(s.child, presentation)
      case p: Project =>
        p.projectList.foreach(exprSorts(_, p.child, grouped = false))
        walk(p.child, presentation)
      case other =>
        val grouped = other match {
          case a: Aggregate => a.groupingExpressions.nonEmpty
          case _ => false
        }
        // scope = the subtree the sorted rows flow out of; for the
        // single-child operators that carry window specs this is the
        // child — for multi-child nodes fall back to the node itself
        // (its own Filter/Join facts are BELOW any expression it hosts)
        val scope = other.children match {
          case Seq(only) => only
          case _ => other
        }
        other.expressions.foreach(exprSorts(_, scope, grouped))
        other.children.foreach(walk(_, presentation = false))
    }

    walk(plan, presentation = true)
    bad.toSet
  }

  // ---------------------------------------------------------------- //
  // falsifiability: the detector itself                              //
  // ---------------------------------------------------------------- //

  test("detector flags a nullable ASC window ordering (red-proof: the exact pre-r17 q179 shape)") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Some(2.0)), (2L, None), (3L, Some(1.0))).toDF("k", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val offender = df.withColumn("cum", sum(col("k")).over(w))
    assert(offendingSortKeys(offender) == Set("v"),
      "the scan must flag a nullable ASC window ordering — if this fails, the gate is blind again")
  }

  test("detector accepts every proof shape the convention prescribes") {
    val s = spark; import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val df = Seq((1L, Some(2.0), "a"), (3L, Some(1.0), "b")).toDF("k", "v", "g")
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingSortKeys(q)
      assert(off.isEmpty, s"$what flagged: $off")
    }
    ok(df.filter(col("v").isNotNull)
      .withColumn("r", row_number().over(W.orderBy("v"))), "isNotNull-filtered key")
    ok(df.filter(col("v") > 0.5)
      .withColumn("r", rank().over(W.orderBy("v"))), "comparison-filtered key (null-rejecting)")
    ok(df.filter(col("v").isNotNull)
      .withColumn("r", row_number().over(W.orderBy(floor(col("v") * 10.0)))),
      "total function of a filtered key (floor/cast — Spark's static nullable is blind here)")
    ok(df.withColumn("r", row_number().over(W.orderBy(asc_nulls_last("v")))),
      "explicit asc_nulls_last (DuckDB's default — agreement)")
    ok(df.withColumn("r", row_number().over(W.orderBy(desc("v")))),
      "DESC default (NullsLast both engines)")
    ok(df.withColumn("r", row_number().over(W.orderBy(coalesce(col("v"), lit(0.0))))),
      "coalesce-closed key")
    ok(df.orderBy("v"), "root presentation sort (checker canonicalizes row order)")
    val t = graft.Tables(spark, sfDir, "orders")
    ok(t.withColumn("r", row_number().over(W.partitionBy("o_custkey").orderBy("o_orderdate"))),
      "contract non-null base column")
    ok(t.withColumn("r",
        row_number().over(W.partitionBy("o_custkey")
          .orderBy(date_trunc("month", col("o_orderdate"))))),
      "date_trunc over a contract column (hardcoded-nullable kernel, proven total)")
    ok(t.groupBy("o_custkey").agg(max("o_orderdate").as("mx"))
      .withColumn("r", row_number().over(W.orderBy("mx"))),
      "grouped max over a contract column")
    ok(t.groupBy(col("o_totalprice").cast("long").as("price"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(W.orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow))),
      "ANSI cast of a contract column as a grouped key (the q191 shape)")
  }

  test("evaluator soundness red-proofs: size(), three-valued NOT/AND/OR, concat_ws separator (r18 ADVICE), static fast path") {
    val s = spark; import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val df = Seq(
        (1L, Some(2.0), Some(Seq(1.0, 2.0)), Some("-")),
        (2L, None, None, None))
      .toDF("k", "v", "arr", "sep")
    // size(nullable collection) under the modern default
    // (legacySizeOfNull = false) propagates NULL — the pre-r19 branch
    // had the condition INVERTED, proving exactly the unsound
    // direction (ADVICE r18 #1)
    assert(offendingSortKeys(
        df.withColumn("r", row_number().over(W.orderBy(size(col("arr")))))).nonEmpty,
      "size() of a nullable collection must flag under legacySizeOfNull=false")
    // NOT/AND/OR are three-valued: NOT NULL = NULL, NULL AND TRUE =
    // NULL — the pre-r19 evaluator proved the whole predicate algebra
    // unconditionally (ADVICE r18 #2)
    assert(offendingSortKeys(
        df.withColumn("r", row_number().over(W.orderBy(not(col("v") > lit(1.0)))))).nonEmpty,
      "NOT over a nullable comparison must flag (three-valued logic)")
    // concat_ws skips NULL ARGUMENTS but returns NULL on a NULL
    // SEPARATOR (ADVICE r18 #3)
    assert(offendingSortKeys(
        df.withColumn("r", row_number().over(W.orderBy(expr("concat_ws(sep, 'a', 'b')"))))).nonEmpty,
      "concat_ws with a nullable separator must flag")
    // the accept side of each fix: proofs still flow where they should
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingSortKeys(q)
      assert(off.isEmpty, s"$what flagged: $off")
    }
    ok(df.filter(col("arr").isNotNull)
        .withColumn("r", row_number().over(W.orderBy(size(col("arr"))))),
      "size() of a null-rejected collection")
    ok(df.filter(col("v").isNotNull)
        .withColumn("r", row_number().over(W.orderBy(not(col("v") > lit(1.0))))),
      "NOT over a comparison of proven operands (comparisons of non-NULLs are total)")
    ok(df.withColumn("r", row_number().over(W.orderBy(expr("concat_ws('-', k, 'b')")))),
      "concat_ws with a literal separator (arguments are null-skipped)")
    // the static nullable=false fast path reads through a
    // localCheckpoint: the q195 shape whose allowlist entry it retired
    // (xxhash64 types non-nullable; LogicalRDD preserves schema
    // nullability)
    ok(df.select(xxhash64(col("v")).as("h")).localCheckpoint()
        .withColumn("r", row_number().over(W.orderBy("h"))),
      "statically non-nullable key behind a localCheckpoint (the retired q195 entry's shape)")
  }

  test("red-proof: the static fast path must not trust nullable=false on a composite of a pre-outer-join attr (r19 ADVICE)") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, JoinHint, LocalRelation}
    import org.apache.spark.sql.types.LongType
    // the class-doc staleness the attr case routes around, wrapped in
    // a composite that INHERITS nullable=false wholesale: an attr
    // instance resolved BEFORE a left join, used in abs(attr) as a
    // value-affecting sort key above it. Not constructible through the
    // DataFrame API (the analyzer repairs resolved-column nullability
    // on its way up), but raw Catalyst hands the walk exactly this
    // shape — and the pre-r20 fast path proved it non-null.
    val k = AttributeReference("k", LongType, nullable = false)()
    val k2 = AttributeReference("k2", LongType, nullable = false)()
    val join = Join(LocalRelation(Seq(k)), LocalRelation(Seq(k2)),
      LeftOuter, Some(EqualTo(k, k2)), JoinHint.NONE)
    val sorted = org.apache.spark.sql.catalyst.plans.logical.Sort(
      Seq(SortOrder(Abs(k2), Ascending)), global = true, join)
    val plan = GlobalLimit(Literal(1), sorted) // value-affecting: a cut
    assert(Abs(k2).nullable == false,
      "precondition: the composite must carry the inherited static claim this red-proof targets")
    assert(offendingSortKeysIn(plan).nonEmpty,
      "abs(pre-join attr) inherits a stale nullable=false across a LEFT JOIN — the fast path " +
        "must defer to the outer-join facts, not the static claim")
  }

  test("detector is not fooled by NULL-introducers, outer joins, unions, or facts ABOVE the sort") {
    val s = spark; import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val t = graft.Tables(spark, sfDir, "orders")
    // when() with no otherwise introduces NULL on top of a contract column
    val reintroduced = t
      .withColumn("key", when(col("o_totalprice") > 100.0, col("o_orderdate")))
      .withColumn("r", row_number().over(W.orderBy("key")))
    assert(offendingSortKeys(reintroduced).nonEmpty,
      "a NULL-introducing expression over a contract column must flag")
    // a LEFT JOIN makes the right side's contract columns nullable
    val c = graft.Tables(spark, sfDir, "customer")
    val outer = c.join(t, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("r", row_number().over(W.partitionBy("c_custkey").orderBy("o_orderdate")))
    assert(offendingSortKeys(outer).nonEmpty,
      "an outer join's null side must not ride the base-column contract")
    // an ORDER BY + LIMIT cut is VALUE-affecting, not presentation
    val df = Seq((1L, Some(2.0)), (2L, None)).toDF("k", "v")
    assert(offendingSortKeys(df.orderBy("v").limit(1)).nonEmpty,
      "a sort under a LIMIT must scan — the cut picks different rows per engine")
    // a null-rejecting join ABOVE the window must NOT excuse the key
    // (the ranks were already assigned over the NULL rows): the q124
    // histogram shape this spec's first walk surfaced
    val withNulls = Seq((1L, Some(2.0)), (2L, None), (3L, Some(1.0))).toDF("k", "v")
    val ranked = withNulls.withColumn("r", row_number().over(W.orderBy("v")))
    val joined = ranked.join(withNulls.filter(col("v").isNotNull).select(col("v").as("v2")),
      col("v") === col("v2"))
    assert(offendingSortKeys(joined).contains("v"),
      "facts from a join ABOVE the window must not transfer down — rank shift already happened")
    // a union output attr proves nothing even when one branch filters
    val u = withNulls.filter(col("v").isNotNull)
      .unionByName(withNulls)
      .withColumn("r", row_number().over(W.orderBy("v")))
    assert(offendingSortKeys(u).contains("v"),
      "union outputs mix branch rows under one ExprId — attr proofs must not apply")
  }

  // ---------------------------------------------------------------- //
  // red-proofs of the r18 population fixes: on a degenerate fixture   //
  // carrying NULL payload rows, the NULL rows must drop out WITHOUT   //
  // shifting any surviving row's rank/bucket/prediction. Pre-fix,     //
  // every one of these queries shifted: q124's NULL len bin moved the //
  // exclusive cumulative count (hence the BUCKET) of every length;    //
  // q173/q187's NULL n_chars shifted every row_number/percent_rank in //
  // its source; q31/q170's NULL-label centroid competed in the        //
  // probe/argmin windows.                                             //
  // ---------------------------------------------------------------- //

  test("red-proof: NULL payload rows drop out of q124/q173/q187/q31/q170 without shifting the surviving population") {
    val dirty = java.nio.file.Files.createTempDirectory("graft_nullorder_fixture").toString
    try {
      val docs = graft.Tables(spark, sfDir, "documents")
      val src = docs.select("source").head().getString(0)
      docs.unionByName(spark.sql(
          s"SELECT CAST(999999 AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text, " +
            s"CAST(NULL AS STRING) AS lang, '$src' AS source, CAST(NULL AS BIGINT) AS n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dirty/documents.parquet")
      graft.Tables(spark, sfDir, "embeddings").unionByName(spark.sql(
          // 999998: valid embedding, NULL label (the unlabeled vector);
          // 999999: all-NULL embedding, valid label (no measurable dim)
          "SELECT CAST(999998 AS BIGINT) AS vec_id, " +
            "transform(sequence(1, 64), x -> CAST(0.25 AS FLOAT)) AS embedding, " +
            "CAST(NULL AS INT) AS label " +
            "UNION ALL SELECT CAST(999999 AS BIGINT), " +
            "transform(sequence(1, 64), x -> CAST(NULL AS FLOAT)), CAST(1 AS INT)"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dirty/embeddings.parquet")
      for (q <- Seq("q124_balanced_resample", "q173_score_calibration",
          "q187_quantile_normalize", "q31_ann_ivf", "q170_classifier_metrics")) {
        val fn = SparkEntry.queries(q)
        val clean = fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
        val onDirty = fn(spark, dirty).collect().map(_.toString).sorted.toSeq
        assert(onDirty == clean,
          s"$q: degenerate NULL rows changed the surviving population's output — " +
            s"the population filter regressed (pre-r18 shape). clean=${clean.size} rows, " +
            s"dirty=${onDirty.size} rows, first diff: " +
            clean.zip(onDirty).find(p => p._1 != p._2).orElse(
              Some((s"sizes ${clean.size}", s"${onDirty.size}"))))
      }
    } finally {
      graft.GraftSession.rmTree(new java.io.File(dirty)): Unit
    }
  }

  // ---------------------------------------------------------------- //
  // the gate: every declared query                                   //
  // ---------------------------------------------------------------- //

  test("every declared query's value-affecting NullsFirst sort keys are non-null-proven or exempted with a reason") {
    val offenders = PlanCensus.gate(structurallySafeOrder)(offendingSortKeys)
    assert(
      offenders.isEmpty,
      s"cross-engine divergent NULL ordering on nullable sort keys (Spark NULLS FIRST, " +
        s"DuckDB NULLS LAST): filter the key isNotNull on both engines (the q179 population " +
        s"fix), pin asc_nulls_last + NULLS LAST on both, or allowlist with the structural " +
        s"reason:\n  " + offenders.mkString("\n  "))
  }
}
