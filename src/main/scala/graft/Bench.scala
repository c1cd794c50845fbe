package graft

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  *
  * Since round 12 the PRIMARY timed layout is an 8-file rewrite of
  * SPARK_GRAFT_SF_DIR (built fresh under /tmp each run): the driver
  * fixture is one row group per table, a structural 1-task-scan floor
  * (measured 1.7×/2.8× — BASELINE.md, the multi-row-group table under
  * "Recorded bench (round 2)") that real many-file
  * data doesn't have. The single-file layout is still timed and
  * recorded as `value_singlefile`/`queries_singlefile` for continuity
  * with rounds ≤11.
  *
  * Queries run in declared specs order (a Map would randomize order
  * between runs, attributing JVM/codegen warmup to arbitrary queries).
  * An untimed warmup pass at sf0.001 first-touches every query's code
  * path — classloading, Catalyst, codegen — so the timed pass measures
  * steady-state execution, which is what a long-running cluster sees.
  *
  * Queries are driven through the `noop` sink, not count(): under a
  * count() Catalyst prunes every deterministic projection expression,
  * so projection-only queries (md5 fingerprints, tokenizers, scalar
  * batteries) would be timed as empty-schema row-count scans. The noop
  * write materializes every output column and discards it.
  *
  * Per-query time = min of two timed passes: single-shot timings on a
  * shared box carry ±10% GC/scheduler noise that dwarfs real plan
  * deltas; min-of-N is the standard steady-state estimator (the
  * workload per pass is identical and fully re-executed — nothing is
  * cached between passes beyond what a warm cluster would hold).
  */
object Bench {

  /** Effective-cores calibration (the manual 32-process burn every
    * cross-boot comparison has needed, now emitted with the numbers):
    * a fixed CPU workload is timed single-threaded, then 32 threads
    * run it concurrently; effective cores = 32 × t_single / t_wall.
    * A quiet 32-vCPU host reads ~26-32 (SMT keeps it below nominal);
    * external oversubscription shows up directly (the r7 episode read
    * 13.9). Per-round bench totals divide by this before being called
    * regressions — the r8/r9 "1.2× uniform drift" was host, not plans.
    */
  private[graft] def effectiveCores(nThreads: Int = 32): (Double, Double, Double) = {
    def work(): Long = {
      // ~60 ms of integer xorshift on one thread; result consumed so
      // the JIT can't elide it
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    work(); work() // JIT warm
    val t0 = System.nanoTime(); val s = work(); val tSingle = (System.nanoTime() - t0) / 1e9
    val threads = (1 to nThreads).map { _ =>
      new Thread(() => { val r = work(); if (r == 42L) println(r) })
    }
    val t1 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val tWall = (System.nanoTime() - t1) / 1e9
    if (s == 42L) println(s)
    (nThreads * tSingle / tWall, tSingle, tWall)
  }

  /** Pre/post-calibration summary — ONE implementation of the
    * normalization formula, BOTH cal_stable gates (the two-sample
    * 0.15 range gate for bracket-only runs, and the n-aware
    * multi-sample robust gate — see [[Calibration.robustThresholdFor]])
    * and load_factor, shared by every main that adjudicates a wall
    * time against host load (Bench, LuadPipeline's e2e line). Tuning
    * a threshold or the formula here moves ALL consumers together —
    * duplicated copies would silently diverge and cross-round rows
    * would be adjudicated under different stability rules (r15 review
    * finding).
    */
  private[graft] final case class Calibration(
      effPre: Double, effPost: Double, nominal: Int, effMid: Seq[Double] = Nil) {
    /** every sample in run order — brackets plus any WITHIN-RUN probes
      * (VERDICT r17 #2): the r17 re-close demonstrated that pre/post
      * brackets alone are blind to load churning BETWEEN them — six
      * same-plan runs held a tight 182–213 s raw band while the
      * normalized column swung 65–175 s, several stamped
      * cal_stable=true because the brackets happened to agree. Bench
      * now probes every few queries inside the timed passes and folds
      * the samples into the same spread statistic, so a
      * bracket-fooling window reads UNSTABLE (CalibrationSpec
      * red-proofs the exact scenario). Two-sample (bracket-only)
      * constructions keep the historical formula bit-for-bit; since
      * r19 LuadPipeline's e2e takes a THIRD probe between session
      * build and the pipeline wall (outside both timed windows) and
      * emits both instruments side by side — its *_2s columns are the
      * historical two-sample ones, its n=3 robust column gates at the
      * n-aware threshold below.
      */
    val samples: Seq[Double] = (effPre +: effMid) :+ effPost
    val effMean: Double = samples.sum / samples.size
    private def quantile(p: Double): Double = {
      val ss = samples.sorted
      val h = (ss.size - 1) * p
      val lo = h.toInt
      val hi = math.min(lo + 1, ss.size - 1)
      ss(lo) + (h - lo) * (ss(hi) - ss(lo))
    }
    /** the r18 instrument's statistic, kept for cross-generation
      * comparability in the artifact — a RANGE, which grows with
      * sample count even under benign jitter (≈3.9σ expected over 26
      * i.i.d. samples vs ≈1.1σ over 2), so at the 26-sample size the
      * 0.15 threshold calibrated for 2 samples flags quiet hosts
      */
    val spreadRange: Double = (samples.max - samples.min) / effMean
    /** two-sample consumers (bracket-only runs, the e2e row's
      * historical column): the r12-era (max−min)/mean, identical to
      * |pre−post|/mean — BIT-FOR-BIT what every recorded row was
      * adjudicated under. Multi-sample runs (within-run probes, r18+):
      * (P90−P10)/mean, whose expectation is σ-stable in sample count
      * (≈2.56σ for n≳10), gated at the r19-derived 0.30 threshold
      * scaled per sample count since r20
      * ([[Calibration.robustThresholdFor]]) — see BASELINE.md r19 for
      * the derivation (σ-equivalence with the historical gate +
      * separation from every measured churn window) and
      * CalibrationSpec for the red-proofs in both directions.
      */
    val spread: Double =
      if (samples.size <= 2) spreadRange
      else (quantile(0.9) - quantile(0.1)) / effMean
    val stable: Boolean =
      spread < (if (samples.size <= 2) 0.15
        else Calibration.robustThresholdFor(samples.size))
    val loadFactor: Double = nominal / effMean
    /** raw wall → the wall this run would post at nominal throughput */
    def normalize(v: Double): Double = v * effMean / nominal
  }

  private[graft] object Calibration {
    /** Threshold for the multi-sample (P90−P10)/mean spread (r19,
      * VERDICT r18 #1 — a re-derivation, NOT a bump of the two-sample
      * 0.15): (a) in underlying-jitter terms it is STRICTER than the
      * historical gate (flags at σ ≈ 0.30/2.56 ≈ 12% vs the
      * two-sample gate's typical-flag point σ ≈ 0.15/0.95 ≈ 16%);
      * (b) a genuinely quiet host — σ ≈ 3-5% per the calm bracket
      * pairs on record (spreads 0.016-0.08) — reads ≈ 0.08-0.13,
      * 2.3×+ of headroom, where the old RANGE statistic reads
      * ≈ 3.9σ ≈ 0.12-0.20 over 26 samples and flags it; (c) every
      * measured churn window on record reads ≥ 0.51 (bench_r18_loaded
      * 0.510, r19-open attempts 0.526/0.693/0.574), 1.7×+ above the
      * gate in the flagging direction.
      */
    val robustThreshold: Double = 0.30

    /** E[(P90−P10)]/σ of the interpolated-quantile spread over n
      * i.i.d. normal samples, for the small n where it degenerates:
      * at n=3 the statistic collapses to 0.8×range (expectation
      * ≈1.35σ, from the expected normal order statistics ±0.8463σ ×
      * the interpolation weights), NOT the ≈2.56σ asymptote the 0.30
      * derivation assumed — so a flat gate would flag n=3 runs only
      * at σ≈22%, LOOSER than the historical two-sample gate (≈16%).
      * Values: expected top/bottom normal order statistics composed
      * with quantile()'s linear interpolation at h=(n−1)×{0.9,0.1}.
      */
    private val expectedGapSigma: Map[Int, Double] = Map(
      3 -> 1.354, 4 -> 1.619, 5 -> 1.792, 6 -> 1.909,
      7 -> 1.991, 8 -> 2.047, 9 -> 2.086)

    /** The n-aware robust gate (r20, ADVICE r19 #2): scale the 0.30
      * threshold by the per-n expected-gap factor so the underlying-σ
      * flag point (≈12%) is CONSTANT across sample counts. n≥10 uses
      * the 2.56 asymptote the derivation quoted, so the factor
      * divides out and Bench's ~26-sample gate stays exactly 0.30 —
      * bit-for-bit with every recorded multi-sample row. The n=3
      * consumer (LuadPipeline's e2e) gates at 0.30×1.354/2.56 ≈ 0.159.
      * Red-proofed in CalibrationSpec on the advice's dip vector.
      */
    def robustThresholdFor(n: Int): Double =
      robustThreshold * expectedGapSigma.getOrElse(n, 2.56) / 2.56
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // nominal parallelism for the calibration + drift normalization —
    // must match the session's core count (GraftSession reads the same
    // env): hard-coding 32 on a 16-core run would burn 32 threads on 16
    // cores, read eff ≈ 16, and "normalize" every time to HALF its
    // honest value while claiming load_factor 2 on an idle host
    val nominal = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.fromEnv()
    val specs = SparkEntry.specs
    def run(q: QuerySpec, dir: String): Unit =
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
    specs.foreach { q =>
      try run(q, warmDir)
      catch { case _: Throwable => () }
    }
    // PRIMARY layout = the 8-file rewrite (VERDICT r11 #3): the
    // driver's single-file fixture is one row group per table, so every
    // scan is structurally a 1-task stage — a measured 1.7× total /
    // 2.8× scan-bound floor (BASELINE.md, the multi-row-group table
    // under "Recorded bench (round 2)") that misattributes
    // fixture layout to the plans. Real data has many files; the
    // primary column should reflect the plans. The single-file run
    // stays as a SECONDARY column for cross-round continuity.
    // SPARK_GRAFT_MULTI_DIR reuses an existing rewrite (close.sh step 3
    // already built one — no second fixture-sized write in the gate
    // chain); otherwise the rewrite is PID-SCOPED and removed on exit:
    // a shared overwrite-in-place dir would let a second Bench delete
    // part files under the first one's timed scan (the q205 race class
    // the Relational scratch discipline exists for).
    val (multiDir, ownsMultiDir) = sys.env.get("SPARK_GRAFT_MULTI_DIR") match {
      case Some(d) if new java.io.File(d).isDirectory =>
        // a caller-supplied rewrite is TRUSTED data: a stale env var or
        // a rewrite of a different dataset would silently bench the
        // wrong rows while the JSON still labels the run with sfDir
        // (ADVICE r12). Cheap consistency gate: identical table set,
        // and an exact row-count match on one small table.
        Views.tables.foreach { t =>
          val (src, dst) =
            (new java.io.File(s"$sfDir/$t.parquet").exists(),
              new java.io.File(s"$d/$t.parquet").exists())
          require(src == dst,
            s"SPARK_GRAFT_MULTI_DIR=$d is not a rewrite of $sfDir: " +
              s"table $t present in ${if (src) "source only" else "rewrite only"}")
        }
        // probe a SCALE-DEPENDENT table: region/nation have identical
        // row counts at every SF (region = 5 rows at sf0.01 AND sf0.1),
        // so probing them would pass the exact wrong-dataset case this
        // gate exists for. customer/orders/documents all grow with SF.
        val probe = Seq("customer", "orders", "documents", "lineitem").find(t =>
          new java.io.File(s"$sfDir/$t.parquet").exists())
        probe.foreach { t =>
          val (nSrc, nDst) =
            (Tables(spark, sfDir, t).count(), Tables(spark, d, t).count())
          require(nSrc == nDst,
            s"SPARK_GRAFT_MULTI_DIR=$d row count mismatch on $t: " +
              s"source $nSrc vs rewrite $nDst — stale or foreign rewrite")
        }
        (d, false)
      case _ =>
        val d = s"/tmp/graft_bench_multi8/pid${ProcessHandle.current().pid()}_" +
          operators.Relational.datasetKey(sfDir)
        RewriteMulti.rewrite(spark, sfDir, d, 8)
        (d, true)
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // time = None on failure: a fast-failing pass must not win min().
    // Errors are layout-tagged and first-write-wins per (query, layout)
    // so a later single-file failure can't mask which layout broke.
    // Within-run calibration probes (VERDICT r17 #2): one burn every
    // `probeEvery` queries inside each timed pass, BETWEEN query
    // timings (never inside a query's t0..t window, so per-query
    // numbers are untouched) — ~0.3 s each, ~24 per dual-layout run,
    // one sample every ~30 s of bench wall. Folded into Calibration's
    // spread so load churning between the pre/post brackets flips
    // cal_stable to false instead of silently corrupting the
    // normalized column (the r17 re-close blind spot).
    val midCal = scala.collection.mutable.Buffer.empty[Double]
    val probeEvery = 40
    def timedPass(dir: String, layout: String): Seq[(String, Option[Double])] = specs.zipWithIndex.map { case (q, qi) =>
      if (qi > 0 && qi % probeEvery == 0) midCal += effectiveCores(nominal)._1
      val t0 = System.nanoTime()
      val ok =
        try { run(q, dir); true }
        catch {
          case e: Throwable =>
            val msg = s"[$layout] " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
            errors(q.name) = errors.get(q.name) match {
              case Some(prev) if !prev.startsWith(s"[$layout]") => s"$prev | $msg".take(260)
              case Some(prev) => prev
              case None => msg
            }
            false
        }
      val t = (System.nanoTime() - t0) / 1e9
      q.name -> (if (ok) Some(t) else None)
    }
    def minOf2(dir: String, layout: String): Seq[(String, Double)] = {
      val (pass1, pass2) = (timedPass(dir, layout), timedPass(dir, layout).toMap)
      pass1.map { case (name, t1) =>
        val ts = (t1.toSeq ++ pass2(name).toSeq)
        // both passes failed → 0.0 with the error recorded in errors
        name -> (if (ts.isEmpty) 0.0 else ts.min)
      }
    }
    // try/finally around the timed passes AND output emission: any
    // uncaught throw in calibration or the JSON/artifact writes must
    // still remove the pid-scoped rewrite, or each failed run leaks a
    // fixture-sized /tmp directory (ADVICE r12)
    try {
    val calPre = effectiveCores(nominal)
    val results = minOf2(multiDir, "multi8")
    val resultsSingle = minOf2(sfDir, "single")
    val calPost = effectiveCores(nominal)
    // 3 decimals (ms resolution): full-precision doubles print ~17
    // significant digits and tripled the stdout line's length, which is
    // what got the driver artifact truncated in rounds 4-6
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) =>
        s""""${GraftSession.jsonEscape(k)}":"${GraftSession.jsonEscape(v)}""""
      }.mkString(""","errors":{""", ",", "}")
    def r1(v: Double): Double = math.rint(v * 10) / 10
    // Drift normalization (VERDICT r10 #6): normalized_s = raw_s ×
    // effective_cores/32 — the wall time this run would have posted at
    // nominal 32-core throughput, deflating external host-load
    // inflation so anchor comparisons read the normalized column
    // instead of needing prose adjudication. A quiet host reads
    // eff ≈ 26-32 (SMT keeps it under nominal), so quiet readings
    // normalize mildly BELOW raw — conservative and in the same
    // direction on both sides of any cross-run ratio. The mean of the
    // pre/post calibrations is used; a large pre/post spread means the
    // load changed mid-run and the raw column is the honest one.
    // cal_stable mechanizes the "large pre/post spread → read the raw
    // column" caveat (ADVICE r11): consumers can gate on it instead of
    // re-deriving the rule from prose. Formula + threshold live in
    // [[Calibration]], shared with the e2e runner.
    val c = Calibration(calPre._1, calPost._1, nominal, midCal.toSeq)
    def norm(v: Double): Double = r3(c.normalize(v))
    val qsNorm = results.map { case (k, v) => s"\"" + k + "\":" + norm(v) }
      .mkString("{", ",", "}")
    val normTotal = norm(results.map(_._2).sum)
    val cal =
      s""""effective_cores":{"pre":${r1(calPre._1)},"post":${r1(calPost._1)},""" +
        s""""mid":${midCal.map(r1).mkString("[", ",", "]")},""" +
        s""""single_s":${r3(calPre._2)},"wall32_s":${r3(calPre._3)}},""" +
        // cal_spread_range = the r18 instrument's statistic, kept so
        // cross-generation rows can be read side by side (r19)
        s""""cal_spread":${r3(c.spread)},"cal_spread_range":${r3(c.spreadRange)},""" +
        s""""cal_stable":${c.stable},""" +
        s""""load_factor":${r3(c.loadFactor)},"value_normalized":$normTotal"""
    val totalSingle = r3(resultsSingle.map(_._2).sum)
    // the per-query normalized + single-file columns go ONLY to the
    // durable artifact: the driver keeps a bounded stdout tail, and
    // extra 242-entry maps on the one-line contract would push the
    // summary fields out of it. The stdout line carries the single-file
    // continuity signal as ONE scalar (value_singlefile).
    val qsSingle = resultsSingle.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // multi_dir in the JSON: the consistency gate above catches a
    // foreign rewrite, but the artifact should still RECORD which
    // directory was actually timed (ADVICE r12)
    val summary =
      s""""layout":"multi8","multi_dir":"${GraftSession.jsonEscape(multiDir)}",""" +
        s""""value_singlefile":$totalSingle,"sf":"$sfDir",$cal$errJson"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$summary}"""
    val artifact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""queries_normalized":$qsNorm,"queries_singlefile":$qsSingle,$summary}"""
    // per-query lines go to STDERR (human/progress view) so stdout stays
    // exactly the driver contract: one JSON line
    results.foreach { case (k, v) => System.err.println(f"[bench] $k%-28s ${r3(v)}%.3f s") }
    // durable artifact: survives any stdout capture truncation. Guarded —
    // an unwritable cwd (cluster-mode container, full disk) must not
    // suppress the driver-contract stdout line below
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      Option(out.getParent).foreach(p => java.nio.file.Files.createDirectories(p): Unit)
      java.nio.file.Files.writeString(out, artifact + "\n"): Unit
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    println(json)
    } finally {
      if (ownsMultiDir) GraftSession.rmTree(new java.io.File(multiDir))
      spark.stop()
    }
  }
}
