package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

/** Mechanical enforcement of the bounded-global-window convention —
  * the engine's central 100 TB scale claim, prose-audited by hand
  * every round until r20 (VERDICT r19 #1): every `Window` with an
  * empty partitionSpec funnels its ENTIRE input frame through one
  * task (Spark plans it as a single-partition Exchange + sort), so an
  * unpartitioned window is only admissible over a frame that is
  * provably compressed far below the corpus — a histogram of bins, a
  * dimension rollup, a days-sized calendar spine. A corpus-sized
  * global window is the one plan shape that CANNOT survive a 1000×
  * scale-up no matter how healthy the rest of the plan is, and
  * nothing in the oracle gate would ever catch it (it is correct,
  * just undistributed). Same discipline as the five existing walks
  * (Broadcast/Division/NullOrdering/ArrayOrdering/IterativeLoop):
  * walk every declared query's ANALYZED plan and flag what the
  * convention cannot prove.
  *
  * A frame is proven bounded when, after stripping row-preserving or
  * row-reducing wrappers (Project/Filter/Sort/SubqueryAlias/Window/
  * hints), the walk reaches:
  *
  *  - an Aggregate with EMPTY grouping (one row), or one whose every
  *    grouping key is a bounded-cardinality expression (below);
  *  - a Limit (literal-bounded by construction), a LocalRelation /
  *    OneRowRelation / Range (driver-literal-sized);
  *  - a semi/anti join over a bounded left side, or any other join /
  *    union of bounded inputs (row count ≤ product / sum of bounds).
  *
  * Bounded-cardinality KEYS — the point is that distinct-key count
  * grows with a VALUE RANGE, a SCHEMA ENUM, or CALENDAR TIME, never
  * with corpus row count:
  *
  *  - literals; pinned schema-enum dimension columns ([[dimCols]],
  *    matched on real scan leaves only — the NullProof.contractNonNull
  *    discipline) and pinned magnitude-bounded measure columns
  *    ([[measureCols]]: a length histogram has at most max-length
  *    rows);
  *  - calendar bucketing (to_date / date_trunc / date_format /
  *    year / month / dayofweek / hour / time window): cardinality
  *    grows with elapsed time, not data volume;
  *  - length()/size() of anything (magnitude-bounded measures);
  *  - fixed-width binning: floor/ceil/round over a divide-or-multiply
  *    by a literal (bins = value range / width), integer div / pmod /
  *    remainder by a literal, short literal substrings (charset^len,
  *    the Benford first-digit shape);
  *  - grouped COUNT outputs (a histogram OF counts: distinct values
  *    are bounded by the max count, empirically heavy-tail-sublinear —
  *    the q208 degree-histogram shape) and MIN/MAX over a bounded
  *    child;
  *  - CASE/IF/coalesce over bounded branches; casts of bounded keys.
  *
  * Anything else — including attrs whose derivation is hidden behind
  * a localCheckpoint LogicalRDD — needs an allowlist entry naming the
  * frame and its size bound (the NullOrderingConventionSpec exemption
  * discipline: dead entries and new riders both fail).
  *
  * The census at the bottom pins every Scala-side unpartitioned-spec
  * constructor token in src/main ([[censusRe]]): all current sites
  * live in operators/ and are reachable from declared queries, so the
  * walk covers them; a new site anywhere moves a count and fails the
  * pin. SQL-string windows (`OVER (ORDER BY …)`) inside declared
  * `spark.sql` queries are covered by the same plan walk (they
  * analyze to the same Window node); the remaining `OVER (…)` tokens
  * in src/main sit inside DuckDB ORACLE strings, which never execute
  * on Spark and are no scale surface.
  */
class GlobalWindowConventionSpec extends SparkSpec {

  import PlanCensus.sfDir

  /** query -> (why each pinned unproven global-window frame stays far
    * below the corpus, the exact finding set excused). Three of the
    * six are CHECKPOINT OPACITY (localCheckpoint truncates lineage to
    * a LogicalRDD, so the walk cannot trace keys it could otherwise
    * prove — the reason spells out the pre-checkpoint derivation, the
    * NullOrderingConventionSpec q149/q150 discipline); the others are
    * frames whose bound is real but outside the prover's vocabulary.
    */
  private val structurallyBounded: Map[String, (String, Set[String])] = Map(
    "q118_pareto_customers" -> ("cum is the cumulative revenue share over the per-customer aggregate — customer-dimension-sized (SF×150k), a single-partition sort of CUSTOMERS, never of orders/lineitem. The share-of-cumulative-total contract is inherently a global prefix sum; the 1000-executor path is the q150 two-phase cumsum (per-bin offsets + within-bin), traded off deliberately for the exact per-customer contract here",
      Set("global-window:cum")),
    "q166_skyline" -> ("phase-2 dominance windows run on phase-1's survivors only — the union of per-bucket skyline frontiers (local non-domination is necessary for global), orders of magnitude below the corpus; phase 1's identical windows are hash-bucket-partitioned and the walk proves nothing ABOUT them because they are partitioned",
      Set("global-window:max_x_gt_y", "global-window:max_y_gt_x")),
    "q162_bigram_lm" -> ("v = count over the unigram frame (groupBy w1): vocabulary-sized, Heaps-sublinear in the corpus — the same bound the BM25 dfreq broadcast entry pins; at extreme corpus scale swap the window for a scalar distinct-count join",
      Set("global-window:v")),
    "q176_pca_power" -> ("the iterate-norm window (_we0) rides frames keyed by dim, which crosses the covariance localCheckpoint (LogicalRDD — untraceable); pre-checkpoint dim is the posexplode position over the 64-dim embeddings — the frame is the k=64 vector (k²=4096 covariance) grid, corpus-size-independent",
      Set("global-window:_we0")),
    "q149_concurrency_sweep" -> ("the offsets cumsum (_we0) runs on bounds.groupBy(hr) with hr crossing the boundary-list localCheckpoint; pre-checkpoint hr = date_trunc('HOUR', ts) — hours-sized, calendar-bounded (mirrors the q149 NullOrdering checkpoint-opacity entry)",
      Set("global-window:_we0")),
    "q150_quantile_shard_merge" -> ("cum/n_total ride merged = shardStates.groupBy(bin) with bin behind the persisted shard-state localCheckpoint; pre-checkpoint bin = floor(o_totalprice / 5000.0) — fixed-width bins, ~120 rows (mirrors the q150 NullOrdering entry)",
      Set("global-window:cum", "global-window:n_total")),
  )

  /** Schema-enum dimension columns: distinct values bounded by the
    * data contract (event/type vocabularies, TPC-H enum fields, the
    * 5-row region / 25-row nation dims), independent of corpus size.
    */
  private val dimCols: Set[String] = Set(
    "event_type", "lang", "source", "label",
    "c_mktsegment", "o_orderstatus", "o_orderpriority",
    "l_returnflag", "l_linestatus",
    "p_brand", "p_type", "p_size", "p_container",
    "r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey")

  /** Magnitude-bounded measure columns: a histogram over them has at
    * most value-range rows (n_chars ≤ the longest document), however
    * many documents exist.
    */
  private val measureCols: Set[String] = Set("n_chars")

  // ---------------------------------------------------------------- //
  // the bounded-cardinality prover                                    //
  // ---------------------------------------------------------------- //

  /** Fixed-width binning shapes: x / literal-width or x × literal —
    * distinct bins = value range / width.
    */
  private def binned(e: Expression): Boolean = e match {
    case d: Divide => d.right.foldable
    case m: Multiply => m.left.foldable || m.right.foldable
    case c: Cast => binned(c.child)
    case co: CheckOverflow => binned(co.child)
    case _ => false
  }

  private def boundedKey(
      e: Expression, facts: NullProof.Facts, scope: LogicalPlan, depth: Int): Boolean = {
    if (depth > 24) return false
    def rec(c: Expression): Boolean = boundedKey(c, facts, scope, depth + 1)
    NullProof.resolveDefn(e, facts, scope) match {
      case l: Literal => true
      case ar: AttributeReference =>
        // pinned names match ONLY on real source-scan leaves — an
        // arbitrary corpus-sized expression aliased "lang" must not
        // ride the dim contract (the contractNonNull discipline)
        facts.leafCols.get(ar.exprId)
          .exists(n => dimCols.contains(n) || measureCols.contains(n))
      // calendar bucketing: cardinality grows with elapsed TIME, not
      // data volume, whatever the input's own cardinality is
      // (date_trunc('hour', corpus-ts) is hours-sized)
      case t: TruncTimestamp if t.format.foldable => true
      case t: TruncDate if t.format.foldable => true
      case d: DateFormatClass if d.right.foldable => true
      case _: ParseToDate | _: ParseToTimestamp => true
      case _: Year | _: Month | _: DayOfMonth | _: DayOfWeek | _: WeekDay |
          _: Hour | _: Minute | _: Second | _: DayOfYear | _: WeekOfYear |
          _: Quarter | _: LastDay | _: UnixDate => true
      case _: TimeWindow => true
      // magnitude-bounded measures
      case _: Length | _: Size => true
      // fixed-width binning
      case f: Floor => binned(f.child) || rec(f.child)
      case c: Ceil => binned(c.child) || rec(c.child)
      case r: Round => binned(r.child) || rec(r.child)
      case b: BRound => binned(b.child) || rec(b.child)
      case c: Cast => rec(c.child)
      case co: CheckOverflow => rec(co.child)
      case d: IntegralDivide if d.right.foldable => true
      case p: Pmod if p.right.foldable => true
      case r: Remainder if r.right.foldable => true
      // short literal prefixes: ≤ charset^len values (Benford digits)
      case s: Substring if s.len.foldable &&
          Option(s.len.eval()).exists(_.asInstanceOf[Number].intValue <= 4) => true
      case i: If => rec(i.trueValue) && rec(i.falseValue)
      case cw: CaseWhen => cw.branches.forall(b => rec(b._2)) && cw.elseValue.forall(rec)
      case c: Coalesce => c.children.forall(rec)
      case g: Greatest => g.children.forall(rec)
      case l: Least => l.children.forall(rec)
      case ae: AggregateExpression =>
        ae.aggregateFunction match {
          // a histogram OF counts: ≤ max-count distinct values,
          // heavy-tail-sublinear (the degree-histogram shape)
          case _: Count => true
          case f: Max => rec(f.child)
          case f: Min => rec(f.child)
          case _ => false
        }
      case a: Alias => rec(a.child)
      case _ => false
    }
  }

  // ---------------------------------------------------------------- //
  // the bounded-frame prover                                          //
  // ---------------------------------------------------------------- //

  private def boundedFrame(plan: LogicalPlan, facts: NullProof.Facts, depth: Int): Boolean = {
    if (depth > 48) return false
    def rec(p: LogicalPlan): Boolean = boundedFrame(p, facts, depth + 1)
    plan match {
      // row-preserving / row-reducing wrappers
      case p: Project => rec(p.child)
      case f: Filter => rec(f.child)
      case s: SubqueryAlias => rec(s.child)
      case s: Sort => rec(s.child)
      case w: Window => rec(w.child)
      case h: ResolvedHint => rec(h.child)
      case h: UnresolvedHint => rec(h.child)
      // literal-bounded by construction
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case d: Deduplicate =>
        d.keys.forall(k => boundedKey(k, facts, plan, 0))
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(k => boundedKey(k, facts, a, 0))
      case j: Join =>
        j.joinType match {
          case LeftSemi | LeftAnti => rec(j.left) // output ⊆ left
          case _ => rec(j.left) && rec(j.right) // ≤ |L| × |R|
        }
      case u: Union => u.children.forall(rec) // ≤ Σ bounds
      case _ => false
    }
  }

  /** All unpartitioned (or all-foldable-partition — one partition in
    * disguise) Window nodes in `df`'s analyzed plan whose input frame
    * is not provably bounded, as `global-window:<output cols>` tags.
    */
  private[operators] def offendingGlobalWindows(df: DataFrame): Set[String] =
    offendingGlobalWindowsIn(df.queryExecution.analyzed)

  private[operators] def offendingGlobalWindowsIn(plan: LogicalPlan): Set[String] = {
    val facts = NullProof.collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]
    plan.collectWithSubqueries {
      case w: Window if w.partitionSpec.forall(_.foldable) => w
    }.foreach { w =>
      if (!boundedFrame(w.child, facts, 0))
        bad += s"global-window:${w.windowExpressions.map(_.name).sorted.mkString("+")}"
    }
    bad.toSet
  }

  // ---------------------------------------------------------------- //
  // falsifiability: the detector itself                               //
  // ---------------------------------------------------------------- //

  test("red-proof: a corpus-sized unpartitioned window flags (the one plan shape no 1000× scale-up survives)") {
    val W = org.apache.spark.sql.expressions.Window
    val docs = graft.Tables(spark, sfDir, "documents")
    val offender = docs.withColumn("cum",
      sum(col("n_chars")).over(W.orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
    assert(offendingGlobalWindows(offender).nonEmpty,
      "a document-grain global cumulative sum must flag — if this passes, the 100 TB gate is blind")
    // partitionBy(lit) is ONE partition wearing partitioned clothing
    val disguised = docs.withColumn("n",
      count(lit(1)).over(W.partitionBy(lit(1))))
    assert(offendingGlobalWindows(disguised).nonEmpty,
      "an all-foldable partitionSpec is the same global shape in disguise")
    // a corpus-identity grouping key must NOT count as compression
    val identityAgg = docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(W.orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
    assert(offendingGlobalWindows(identityAgg).nonEmpty,
      "an Aggregate grouped by a corpus identity key is NOT a compressed frame")
  }

  test("the detector accepts every bounded-frame shape the convention prescribes") {
    val W = org.apache.spark.sql.expressions.Window
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingGlobalWindows(q)
      assert(off.isEmpty, s"$what flagged: $off")
    }
    val orders = graft.Tables(spark, sfDir, "orders")
    val events = graft.Tables.events(spark, sfDir)
    val docs = graft.Tables(spark, sfDir, "documents")
    val wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    ok(orders.groupBy(floor(col("o_totalprice") / 5000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wcum)),
      "fixed-width bin histogram (the q150/median shape)")
    ok(events.groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(W.orderBy("d")
          .rowsBetween(W.unboundedPreceding, W.currentRow))),
      "days-sized calendar frame (the q158 shape)")
    ok(docs.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(W.partitionBy())),
      "schema-enum dimension frame (the q136 shape)")
    ok(docs.groupBy(length(col("text")).as("len")).agg(count(lit(1)).as("n_l"))
        .withColumn("cum", sum(col("n_l")).over(W.orderBy("len")
          .rowsBetween(W.unboundedPreceding, W.currentRow))),
      "length-histogram frame (magnitude-bounded measure, the q124 shape)")
    ok(events.groupBy("user_id").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(W.orderBy("deg")
          .rowsBetween(W.unboundedPreceding, W.currentRow))),
      "count-histogram frame (the q208 degree shape)")
    ok(docs.limit(100).withColumn("r", row_number().over(W.orderBy("doc_id"))),
      "limit-bounded frame")
    ok(orders.agg(sum(col("o_totalprice")).as("tot"))
        .withColumn("r", row_number().over(W.orderBy("tot"))),
      "global-aggregate single-row frame")
  }

  // ---------------------------------------------------------------- //
  // the gate: every declared query                                    //
  // ---------------------------------------------------------------- //

  test("every declared query's unpartitioned windows run on provably bounded frames or are exempted with a reason") {
    val offenders = PlanCensus.gate(structurallyBounded)(offendingGlobalWindows)
    assert(
      offenders.isEmpty,
      s"unpartitioned window over a frame the walk cannot bound — a single-partition sort of " +
        s"that frame at 100 TB: compress it through an Aggregate on bounded keys first, " +
        s"partition the window, or allowlist with the frame's written size bound:\n  " +
        offenders.mkString("\n  "))
  }

  // ---------------------------------------------------------------- //
  // the census: no constructor site escapes the walk silently         //
  // ---------------------------------------------------------------- //

  test("src/main unpartitioned-window constructor census matches the pinned audit") {
    // Per-file raw-text token counts (comments included — a tripwire,
    // not semantics). Every current site lives in operators/ inside a
    // declared query, so the plan-walk gate above covers them all; a
    // new constructor anywhere (including a main or pipeline/ file the
    // walk cannot reach) moves a count and fails this pin, forcing the
    // walk/allowlist question instead of riding in silently.
    val pinned = Map(
      "operators/CurationOps.scala" -> 5,
      "operators/GraphOps.scala" -> 1,
      "operators/ModernSqlOps.scala" -> 1,
      "operators/Relational.scala" -> 5,
      "operators/SimilarityOps.scala" -> 1,
      "operators/StatsOps.scala" -> 1,
      "operators/TemporalOps.scala" -> 2,
      "operators/TextOps.scala" -> 2,
      "operators/WindowOps.scala" -> 2)
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory,
      s"census must run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val pat = java.util.regex.Pattern.compile(
      """\b(?:Window|W)\s*\.\s*orderBy\s*\(|\bpartitionBy\(\)""")
    val found = graft.ConventionScan.scalaFiles(root.getPath).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = pat.matcher(text)
      var n = 0
      while (m.find()) n += 1
      if (n > 0) Some(root.toPath.relativize(f.toPath).toString -> n) else None
    }.toMap
    assert(found == pinned,
      s"unpartitioned-window constructor census moved — a new site must be reachable by the " +
        s"declared-query walk (the gate above) or get a written reason here.\n" +
        s"  pinned: ${pinned.toSeq.sorted}\n  found:  ${found.toSeq.sorted}")
  }
}
