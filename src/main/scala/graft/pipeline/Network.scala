package graft.pipeline

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pearson co-expression network + connected-components probe filter
  * (reference `PreProcess.scala:27-93,156-218`, A2/A3/F5/F6/G1/G2/A5/A6/F3).
  *
  * Scale design:
  *  - The reference collects all per-probe stats to the driver and runs
  *    an O(P²) nested loop against the broadcast copy
  *    (`PreProcess.scala:56-79`), pairing the two value lists
  *    positionally (quirk Q2). Here the co-moments come from a
  *    self-join on the sample key — alignment is explicit, the shuffle
  *    key is `sample`, and partial aggregation is map-side combinable.
  *    Cost is O(Σ_sample nnz_sample²) — the honest cost of all-pairs
  *    — but distributed, with no driver copy.
  *  - Connected components: GraphX `connectedComponents()` (Pregel,
  *    incremental frontier — same semantics as the reference's delta
  *    iteration `PreProcess.scala:179-197`, maxIter 100). A pure
  *    DataFrame loop fallback is provided for the SQL-only engine path;
  *    it checkpoints each round to truncate lineage.
  *  - Representative per component: `min(probe)` — the reference takes
  *    an arbitrary group-first (quirk Q3); min is deterministic.
  */
object Network {

  /** Sample Pearson r of two columns as an aggregate, NULL (never a
    * throw) on a zero-variance or single-row group: Spark's `corr`
    * divides by the co-moment product with ANSI division, so it throws
    * DIVIDE_BY_ZERO on any constant series. The co-moment aggregates
    * update incrementally (no n·Σx² − (Σx)² cancellation) and combine
    * map-side; `try_divide` NULLs the zero-variance case.
    */
  def pearson(x: Column, y: Column): Column =
    try_divide(covar_samp(x, y), stddev_samp(x) * stddev_samp(y))

  /** Per-probe-pair Pearson r over a COO matrix (sample, probe, value),
    * upper triangle only (pi < pj), NaN guarded, |r| >= threshold, over
    * the samples where BOTH probes are present (on a completed matrix
    * that is all samples — matching the reference, which only runs
    * this after completion).
    */
  def pearsonEdges(matrix: DataFrame, threshold: Double): DataFrame = {
    val a = matrix.select(
      col("sample"), col("probe").as("pi"), col("value").as("x"))
    val b = matrix.select(
      col("sample"), col("probe").as("pj"), col("value").as("y"))
    a.join(b, Seq("sample"))
      .filter(col("pi") < col("pj")) // F6 upper triangle
      .groupBy("pi", "pj")
      .agg(pearson(col("x"), col("y")).as("r"))
      // F5: the reference's NaN/Inf filter — a zero-variance probe
      // gives a NULL r. Before the clamp: greatest skips NULLs
      .filter(col("r").isNotNull && !isnan(col("r")))
      // least/greatest: fp guard against |r| overshooting 1 by ~1e-15
      .select(col("pi"), col("pj"), least(lit(1.0), greatest(lit(-1.0), col("r"))).as("r"))
      .filter(abs(col("r")) >= threshold)
  }

  /** Dense skinny-matrix Pearson: when the sample dimension is small
    * (the reference corpus is 62 samples × 21.5k probes), the
    * relational self-join would shuffle O(P²·n) rows (~1.4e10 at
    * reference shape) — hopeless. Instead: standardize each probe's
    * sample-vector so that r_ij = z_i · z_j, broadcast the standardized
    * matrix (P × n doubles — ~10 MB at reference shape), and compute
    * the upper triangle as a distributed block-nested loop over probe
    * ranges. This is the reference's own A3 design (collected stats +
    * closure broadcast, `PreProcess.scala:56-79`) made distributed and
    * sample-aligned (quirk Q2 fixed). Cost O(P²·n / cores), no shuffle
    * at all. For millions of samples use `pearsonEdges` (relational) or
    * DIMSUM-style approximation instead.
    *
    * Requires a COMPLETE matrix (every sample × probe cell present) —
    * asserted; the reference runs it post-completion only.
    */
  def pearsonEdgesDense(spark: SparkSession, matrix: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    // typed Dataset of PRIMITIVE arrays: the encoder deserializes
    // Array[Int]/Array[Double] as int[]/double[] — the collected heap is
    // the 8-bytes-per-cell the gate in `apply` budgets for, not the
    // 4-6× boxed Seq overhead a Row/Seq collect would carry
    val rows = matrix
      .groupBy("probe")
      .agg(
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.sample)").as("ss"),
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.value)").as("vs"))
      .as[(Int, Array[Int], Array[Double])]
      .collect()
    require(rows.nonEmpty, "empty matrix")
    // alignment guard: every probe must cover the IDENTICAL sample
    // sequence — equal counts alone would let positionally-misaligned
    // vectors through (the reference's quirk Q2, the exact bug this
    // module exists to fix)
    val samples0 = rows.head._2
    require(
      rows.forall(r => java.util.Arrays.equals(r._2, samples0)),
      "pearsonEdgesDense requires a complete matrix (identical sample set per probe)")
    val n = samples0.length
    // standardize: z = (x - mean) / (sd·sqrt(n)) so dot(z_i, z_j) = r.
    // Index-aligned PRIMITIVE arrays, sorted by probe id: the inner
    // pair loop below must be pure double[] arithmetic — a Map[Int, _]
    // lookup per pair would box the key and hash 230M+ times at the
    // reference shape (measured 10×+ slower than the flops themselves)
    val sorted = rows.sortBy(_._1)
    val probes: Array[Int] = sorted.map(_._1)
    val z: Array[Array[Double]] = sorted.map { case (_, _, vs) =>
      val mean = vs.sum / n
      var ss = 0.0
      vs.foreach(v => ss += (v - mean) * (v - mean))
      val norm = math.sqrt(ss)
      if (norm == 0.0) null else vs.map(v => (v - mean) / norm)
    }
    val bz = spark.sparkContext.broadcast(z)
    val bp = spark.sparkContext.broadcast(probes)
    val nP = probes.length
    // many small index ranges: row i costs (nP-1-i) dots, so contiguous
    // ranges are skewed — 16× oversubscription lets the scheduler
    // balance them dynamically
    val parts = math.min(spark.sparkContext.defaultParallelism * 16, nP)
    spark.sparkContext
      .parallelize(0 until nP, parts)
      .flatMap { i =>
        val zs = bz.value
        val zi = zs(i)
        if (zi == null) Iterator.empty
        else {
          val ids = bp.value
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
          var j = i + 1
          while (j < zs.length) {
            val zj = zs(j)
            if (zj != null) {
              var d = 0.0
              var k = 0
              while (k < zi.length) { d += zi(k) * zj(k); k += 1 }
              // fp guard: z·z can overshoot ±1 by ~1e-15
              d = math.min(1.0, math.max(-1.0, d))
              if (math.abs(d) >= threshold) out += ((ids(i), ids(j), d))
            }
            j += 1
          }
          out.iterator
        }
      }
      .toDF("pi", "pj", "r")
  }

  /** Connected components over an (pi, pj) edge list via GraphX
    * (G1/G2). Returns (probe, component) with component = min probe id
    * in the component. Ids stay LongType end to end — 64-bit vertex
    * ids must not round-trip through Int at the 100 TB design point.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    // Pregel schedules every iteration over the edge partitioning, so
    // an oversubscribed upstream (the dense-Pearson stage deliberately
    // runs 16× cores) must be coalesced first — CC at 500+ partitions
    // per iteration is pure scheduler churn. coalesce: no shuffle.
    val target = math.max(1, spark.sparkContext.defaultParallelism)
    val edgeRdd = edges
      .select(col("pi").cast("long"), col("pj").cast("long"))
      .as[(Long, Long)]
      .rdd
      .coalesce(target)
      .map { case (i, j) => Edge(i, j, ()) }
    val graph = Graph.fromEdges(edgeRdd, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    // no maxIterations cap: Pregel halts when no label improves, so this
    // converges exactly; a cap (the reference uses 100) would silently
    // mislabel any component with diameter above it
    val cc = graph.connectedComponents()
    // materialize (eager localCheckpoint), then free the cached graph
    // and result RDDs EXPLICITLY: relying on GC-driven ContextCleaner
    // strands vertex/edge blocks for the session lifetime on a quiet
    // driver heap, evicting the pipeline's own persisted matrices —
    // the same discipline connectedComponentsDF applies to its edge
    // set (r15 pipeline review)
    val out = cc.vertices
      .map { case (v, c) => (v, c) }
      .toDF("probe", "component")
      .localCheckpoint()
    cc.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    out
  }

  /** DataFrame-only connected components: iterative min-label
    * propagation with a shrinking plan (G1's delta-iteration semantics,
    * SQL-expressible engine path). Each round: candidate = min component
    * over neighbors ∪ self; converged when no label changes.
    * `localCheckpoint` truncates lineage so 100 rounds don't stack 100
    * joins into one plan.
    */
  def connectedComponentsDF(edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val sym = edges
      .select(col("pi").as("src"), col("pj").as("dst"))
      .union(edges.select(col("pj").as("src"), col("pi").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym
      .select(col("src").as("probe"))
      .distinct()
      .withColumn("component", col("probe"))
      .localCheckpoint()
    // the checkpointed RDD behind a localCheckpoint'd frame — so the
    // loop can FREE the previous round's label blocks once the next
    // round is materialized. Without this, up to maxIter copies of the
    // probes-sized label table linger until GC-driven ContextCleaner
    // gets around to them (r15 pipeline review); with it, storage is
    // bounded at ~2 copies.
    def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    def round(ls: DataFrame): (DataFrame, Long) = {
      val candidates = sym
        .join(ls.withColumnRenamed("probe", "src"), "src")
        .groupBy(col("dst").as("probe"))
        .agg(min(col("component")).as("candidate"))
      val next = ls
        .join(candidates, Seq("probe"), "left")
        .select(
          col("probe"),
          least(col("component"), coalesce(col("candidate"), col("component")))
            .as("component"),
          (col("candidate") < col("component")).as("improved"))
      val materialized = next.localCheckpoint()
      (materialized.select("probe", "component"),
        materialized.filter(col("improved")).count())
    }
    // try/finally: the non-convergence require below (or any failure
    // mid-round) must not leak the persisted MEMORY_AND_DISK edge set
    // for the session's lifetime — a retry loop probing maxIter would
    // otherwise accumulate cached copies until executors evict. The
    // labels rows are localCheckpointed, so unpersisting sym before
    // returning them is safe.
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val (next, c) = round(labels)
        // next is already materialized (eager localCheckpoint inside
        // round), so the previous round's blocks are dead — free them
        ckptRdd(labels).foreach(_.unpersist(false))
        labels = next
        changed = c
        iter += 1
      }
      // loud non-convergence: a component with diameter > maxIter would
      // otherwise return silently wrong labels (the GraphX path runs
      // uncapped to convergence, so only this loop needs the guard).
      // If the LAST permitted round still improved, the labels may
      // nevertheless be final (the improvement could have been the
      // convergence step) — one extra probe round distinguishes
      // converged-at-the-wire from genuinely truncated.
      if (changed > 0) {
        val (probeRound, residual) = round(labels)
        ckptRdd(probeRound).foreach(_.unpersist(false)) // count-only probe
        require(
          residual == 0,
          s"connectedComponentsDF did not converge in $maxIter iterations " +
            s"($residual labels still improving) — raise maxIter")
      }
      labels
    } finally sym.unpersist(): Unit
  }

  /** One representative probe per component (A6, deterministic `min`),
    * then keep only representatives plus probes untouched by the
    * network (reference F3: `newProbes` = component reps; probes with
    * no edge at all never entered the graph and survive).
    */
  def filterMatrix(
      matrix: DataFrame,
      components: DataFrame,
  ): DataFrame = {
    // invariant of BOTH CC implementations (GraphX labels with the min
    // vertex id; the DF loop converges to the min probe): component ==
    // min(probe in component), so the rep set IS the distinct component
    // ids — no groupBy-min aggregation needed (NetworkSpec pins the two
    // implementations equal, which pins this invariant)
    val reps = components.select(col("component").as("probe")).distinct()
    val inGraph = components.select("probe")
    // no broadcast hint: survivors ≈ all probes minus merged duplicates
    // — near nProbes rows, which must NOT be forced onto the driver at
    // scale; AQE picks broadcast on its own when it actually fits
    val survivors = reps
      .select("probe")
      .union(matrix.select("probe").distinct().join(inGraph, Seq("probe"), "left_anti"))
    matrix.join(survivors, Seq("probe"), "left_semi")
  }

  /** Driver-heap bytes the dense path will hold AT PEAK (broadcast
    * build time, when everything below is simultaneously reachable):
    * the collected raw value arrays `vs` (8 B/cell), the per-probe
    * sample-id arrays `ss` for the alignment guard (4 B/cell), the NEW
    * standardized `z` arrays (8 B/cell), and the serialized
    * TorrentBroadcast chunks of z (~8 B/cell). 28 B/cell total — the
    * earlier 20 B/cell model omitted one of the z copies and
    * undercounted the peak by ~40% (r15 pipeline review), which with a
    * budget raised toward the heap would have admitted a matrix that
    * OOMs the driver.
    */
  def denseFootprintBytes(nSamples: Long, nProbes: Long): Long =
    nSamples * nProbes * (8L * 2 + 4L + 8L)

  /** Default dense-path driver budget: 256 MB — safe inside Spark's
    * 1 GB default driver heap with room for the broadcast manager.
    * Override per-session with `spark.graft.pearson.maxDenseBytes`.
    */
  val DefaultMaxDenseBytes: Long = 256L << 20

  /** Full network step: edges → components → filtered matrix.
    * threshold None → pass-through (reference `PreProcess.scala:156`).
    */
  def apply(
      spark: SparkSession,
      matrix: DataFrame,
      threshold: Option[Double],
      cards: Option[(Long, Long)] = None,
  ): DataFrame = threshold match {
    case None => matrix
    case Some(t) =>
      // skinny matrix (few samples, many probes — the reference shape)
      // → dense broadcast block-multiply; otherwise relational
      // self-join. The gate bounds the MODELED driver peak (see
      // denseFootprintBytes), not a cell count. `cards` = caller-known
      // (nSamples, nProbes) so a pipeline that already counted them
      // doesn't pay two more distinct-shuffles here (r15 review).
      val (nSamples, nProbes) = cards.getOrElse((
        matrix.select("sample").distinct().count(),
        matrix.select("probe").distinct().count()))
      val maxBytes = spark.conf
        .getOption("spark.graft.pearson.maxDenseBytes")
        .map(_.toLong)
        .getOrElse(DefaultMaxDenseBytes)
      val bytes = denseFootprintBytes(nSamples, nProbes)
      val useDense = nSamples <= 10000 && bytes <= maxBytes
      System.err.println(
        s"[graft] pearson path: ${if (useDense) "dense-broadcast" else "relational-self-join"} " +
          s"(samples=$nSamples probes=$nProbes footprint=${bytes >> 20}MB budget=${maxBytes >> 20}MB)")
      val t0 = System.nanoTime()
      // localCheckpoint (eager): edges feed both CC and nothing else,
      // but materializing splits the timing and keeps GraphX off the
      // full Pearson lineage
      val edges =
        (if (useDense) pearsonEdgesDense(spark, matrix, t)
         else pearsonEdges(matrix, t)).localCheckpoint()
      val nEdges = edges.count()
      val t1 = System.nanoTime()
      // already materialized + localCheckpoint'd inside (so it can free
      // its cached GraphX RDDs) — a second checkpoint here would just
      // copy the blocks
      val comps = connectedComponents(spark, edges)
      val nInGraph = comps.count()
      val t2 = System.nanoTime()
      val result = filterMatrix(matrix, comps)
      System.err.println(
        f"[graft] pearson edges=$nEdges (${(t1 - t0) / 1e9}%.1f s), " +
          f"cc vertices=$nInGraph (${(t2 - t1) / 1e9}%.1f s)")
      result
  }
}
