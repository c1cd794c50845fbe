package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Main --workload <luad_ref|queries> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *        --expected <queries.tsv> [--spans <file>]
  *   Main --record <out.tsv> --expected <queries.tsv> --data <dir>
  *
  * Closed loop with one client: one pipeline run or one query at a time,
  * on a `local[nproc]` session built by `GraftSession`. Set-up is three
  * rounds of session build plus input generation and one warm-up pass,
  * which also runs the output checks (see `setUp`). With `--trace 0` the run is untraced (no
  * listener, no spans) and prints the end-to-end metrics; with
  * `--trace 1` untraced and traced operations alternate, starting and
  * ending with an untraced one, and the run prints the per-layer metrics
  * plus the tracing overhead. The last
  * stdout line is one JSON object.
  */
object Main {

  final case class Opts(
      workload: String = "", seed: Long = 0, seconds: Double = 10, trace: Boolean = false,
      work: String = "", data: String = "", expected: String = "", spans: Option[String] = None,
      record: Option[String] = None)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--data" :: v :: rest => parse(rest, o.copy(data = v))
    case "--expected" :: v :: rest => parse(rest, o.copy(expected = v))
    case "--spans" :: v :: rest => parse(rest, o.copy(spans = Some(v)))
    case "--record" :: v :: rest => parse(rest, o.copy(record = Some(v)))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  val setupRounds = 3

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    graft.GraftSession.local(cores, cores)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Tally of attempted and failed operations; errors go to stderr. */
  final class Tally {
    var attempted = 0
    var failed = 0
    def apply[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] FAILED $what: $e")
          None
      }
    }
  }

  /** Metrics of one run, in print order, with units. */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
    def json: String = values.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
  }

  /** Layer metrics a traced run reports on every workload; a layer the
    * workload never calls reads 0.
    */
  def perLayerNames: Seq[(String, String)] = {
    val luad = Luad.layers.flatMap(l => Seq(s"$l.s" -> "s", s"$l.cpu_s" -> "s", s"$l.jobs" -> "count",
      s"$l.tasks" -> "count", s"$l.shuffle_write_bytes" -> "bytes", s"$l.spill_bytes" -> "bytes")) ++
      Seq("ingest.files", "ingest.cells", "completion.missing_cells", "pearson.edges",
        "pearson.pair_ops", "cc.components", "filter.probes_after").map(_ -> "count")
    val query = Seq("construct.s" -> "s", "construct.cpu_s" -> "s", "construct.jobs" -> "count",
      "plan.s" -> "s", "plan.exchanges" -> "count", "plan.scans" -> "count",
      "exec.s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.jobs" -> "count",
      "exec.stages" -> "count", "exec.tasks" -> "count", "exec.shuffle_write_bytes" -> "bytes",
      "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes", "exec.max_task_skew" -> "ratio") ++
      Queries.modules.map { case (m, _) => s"family.$m.s" -> "s" }
    luad ++ query :+ ("trace.overhead_s" -> "s")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    Luad.watchPearsonPath()
    o.record match {
      case Some(out) => record(o, out)
      case None =>
        val work = Paths.get(o.work)
        Files.createDirectories(work)
        val (correct, tally, metrics) = o.workload match {
          case "luad_ref" => luadRun(o, work)
          case "queries" => queriesRun(o)
          case w => throw new IllegalArgumentException(s"unknown workload: $w")
        }
        println(s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},"metrics":${metrics.json}}""")
    }
  }

  /** Runs `op` until `seconds` have passed and at least `min` times. */
  private def loop(seconds: Double, min: Int)(op: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) { op(i); i += 1 }
  }

  /** Set-up: `setupRounds` rounds of session build plus input
    * generation, each in a fresh session, then one warm-up pass on the
    * last session. Set-up time is the median round plus the warm-up.
    */
  private def setUp(generate: () => Unit)(warmUp: SparkSession => Unit): Double = {
    var spark: SparkSession = null
    val rounds = (0 until setupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      generate()
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    warmUp(spark)
    median(rounds) + (System.nanoTime() - t0) / 1e9
  }

  private def endToEnd(m: Metrics, setup: Double, passes: Seq[Double], ops: Seq[Double],
      accuracy: Double, tally: Tally): Unit = {
    m("setup_s", "s", setup)
    m("pass_s", "s", median(passes))
    m("op_p50_ms", "ms", median(ops) * 1000)
    m("accuracy", "fraction", accuracy)
    m("success_rate", "fraction", (tally.attempted - tally.failed).toDouble / math.max(1, tally.attempted))
    m("peak_rss_mb", "MB", peakRssMb())
  }

  private def writeSpans(o: Opts, tracers: Seq[Tracer]): Unit =
    if (tracers.nonEmpty)
      o.spans.foreach(p => Files.writeString(Paths.get(p), tracers.map(_.spansJson).mkString("", "\n", "\n")))

  // ---------------------------------------------------------------- LUAD

  private def luadRun(o: Opts, work: Path): (Boolean, Tally, Metrics) = {
    val tally = new Tally
    val problems = mutable.ArrayBuffer.empty[String]
    val accuracies = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var gen: Corpus.Generated = null
    var first: Option[Luad.Outcome] = None
    def checked(o: Luad.Outcome): Luad.Outcome = {
      Luad.check(o, gen) match {
        case Left(p) => problems += p
        case Right(a) => accuracies += a
      }
      // the pipeline is deterministic: every run on one corpus, traced
      // or not, must give the same predictions and probe count
      first match {
        case None => first = Some(o)
        case Some(f) if f.lines != o.lines || f.nAfter != o.nAfter =>
          problems += "runs on one corpus differ in predictions or probes after the filter"
        case _ =>
      }
      o
    }
    val setup = setUp { () =>
      graft.GraftSession.rmTree(work.resolve("corpus").toFile)
      gen = Corpus.write(work.resolve("corpus"), o.seed)
    } { s => spark = s; checked(Luad.run(spark, gen)) }
    val untraced = mutable.ArrayBuffer.empty[Luad.Outcome]
    val tracers = mutable.ArrayBuffer.empty[Tracer]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val brackets = mutable.ArrayBuffer.empty[Option[Double]]
    val tracedWalls = mutable.ArrayBuffer.empty[Option[Double]]
    def untracedRun(i: Int): Unit = {
      val u = tally(s"pipeline run $i")(checked(Luad.run(spark, gen)))
      u.foreach(u => System.err.println(f"[perfbench] pipeline run $i: ${u.seconds}%.3f s"))
      untraced ++= u
      brackets += u.map(_.seconds)
    }
    loop(o.seconds, 1) { i =>
      untracedRun(i)
      if (o.trace) {
        val tr = new Tracer(spark)
        tracers += tr
        tracedWalls += tally(s"traced pipeline run $i") {
          val (t, counts) = Luad.traced(spark, gen, tr, i)
          tr.close()
          checked(t)
          problems ++= Luad.checkCounts(counts, gen)
          layerRows += luadLayers(tr, i, t, counts)
          t.seconds
        }
      }
    }
    if (o.trace) untracedRun(tracedWalls.size)
    spark.stop()
    problems.distinct.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    writeSpans(o, tracers.toSeq)
    val m = new Metrics
    if (o.trace) layerMetrics(m, layerRows.toSeq, overheads(tracedWalls.toSeq, brackets.toSeq))
    else {
      val walls = untraced.map(_.seconds).toSeq
      endToEnd(m, setup, walls, walls, if (accuracies.isEmpty) 0.0 else accuracies.min, tally)
    }
    System.err.println(s"[perfbench] ${o.workload}: samples=${Corpus.nSamples} probes=${Corpus.nProbes} " +
      s"runs=${untraced.size} accuracy=${accuracies.minOption}")
    val minAccuracy = 0.9
    (problems.isEmpty && accuracies.nonEmpty && accuracies.min >= minAccuracy, tally, m)
  }

  private def luadLayers(tr: Tracer, op: Int, out: Luad.Outcome, counts: Luad.Counts): Map[String, Double] = {
    val row = mutable.Map.empty[String, Double]
    Luad.layers.foreach { l =>
      val w = tr.work(op, l)
      row(s"$l.s") = tr.spans.filter(s => s.op == op && s.layer == l).map(_.seconds).sum
      row(s"$l.cpu_s") = w.cpuNs / 1e9
      row(s"$l.jobs") = w.jobs.toDouble
      row(s"$l.tasks") = w.tasks.toDouble
      row(s"$l.shuffle_write_bytes") = w.shuffleWriteBytes.toDouble
      row(s"$l.spill_bytes") = w.spillBytes.toDouble
    }
    row("ingest.files") = counts.files
    row("ingest.cells") = counts.cells.toDouble
    row("completion.missing_cells") = (counts.completedCells - counts.cells).toDouble
    row("pearson.edges") = counts.edges.toDouble
    // the dense path scores every probe pair over every sample
    row("pearson.pair_ops") = out.nBefore.toDouble * (out.nBefore - 1) / 2 * Corpus.nSamples
    row("cc.components") = counts.components.toDouble
    row("filter.probes_after") = out.nAfter.toDouble
    row.toMap
  }

  /** Tracing overhead of each traced operation: its wall minus the mean
    * of the untraced operations run just before and just after it, so a
    * JVM still warming up does not pass for overhead.
    */
  private def overheads(traced: Seq[Option[Double]], untraced: Seq[Option[Double]]): Seq[Double] =
    traced.indices.flatMap { k =>
      for (t <- traced(k); before <- untraced(k); after <- untraced(k + 1)) yield t - (before + after) / 2
    }

  /** Per-layer metrics: the median of each over the traced operations. */
  private def layerMetrics(m: Metrics, rows: Seq[Map[String, Double]], overhead: Seq[Double]): Unit =
    perLayerNames.foreach { case (name, unit) =>
      if (name == "trace.overhead_s") m(name, unit, median(overhead))
      else m(name, unit, median(rows.map(_.getOrElse(name, 0.0))))
    }

  // ------------------------------------------------------------- queries

  private def queriesRun(o: Opts): (Boolean, Tally, Metrics) = {
    val expected = Queries.loadExpected(o.expected)
    val specs = expected.map(e => Queries.spec(e.name))
    val rnd = new scala.util.Random(o.seed)
    def order() = rnd.shuffle(specs)
    val tally = new Tally
    var spark: SparkSession = null
    // the warm-up pass is the output check: row count always, canonical
    // hash where the recorded hash was stable
    var mismatches = Seq.empty[String]
    val setup = setUp(() => ()) { s =>
      spark = s
      mismatches = order().map(q => expected.find(_.name == q.name).get).flatMap { e =>
        scala.util.Try(Queries.canonicalHash(graft.SparkEntry.queries(e.name)(spark, o.data))) match {
          case scala.util.Failure(err) => Some(s"${e.name}: failed in the check pass: $err")
          case scala.util.Success((rows, _)) if rows != e.rows => Some(s"${e.name}: $rows rows, recorded ${e.rows}")
          case scala.util.Success((_, h)) if e.hash.exists(_ != h) => Some(s"${e.name}: hash $h, recorded ${e.hash.get}")
          case _ => None
        }
      }
    }
    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracers = mutable.ArrayBuffer.empty[Tracer]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val brackets = mutable.ArrayBuffer.empty[Option[Double]]
    val tracedWalls = mutable.ArrayBuffer.empty[Option[Double]]
    def pass(i: Int, trace: Option[Tracer]): (Double, Map[String, Double]) = {
      val row = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var total = 0.0
      order().zipWithIndex.foreach { case (q, k) =>
        val op = i * specs.size + k
        tally(q.name)(Queries.run(spark, o.data, q, trace.map(_ -> op))).foreach { t =>
          total += t.total
          if (trace.isEmpty) latencies.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += t.total
          trace.foreach { tr =>
            Seq("construct" -> t.construct, "plan" -> t.plan, "exec" -> t.exec).foreach { case (l, s) =>
              row(s"$l.s") += s
              val w = tr.work(op, l)
              row(s"$l.cpu_s") += w.cpuNs / 1e9
              row(s"$l.jobs") += w.jobs
              if (l == "exec") {
                row("exec.gc_s") += w.gcMs / 1e3
                row("exec.stages") += w.stages
                row("exec.tasks") += w.tasks
                row("exec.shuffle_write_bytes") += w.shuffleWriteBytes
                row("exec.shuffle_read_bytes") += w.shuffleReadBytes
                row("exec.spill_bytes") += w.spillBytes
                row("exec.max_task_skew") = math.max(row("exec.max_task_skew"), w.maxSkew)
              }
            }
            row("plan.exchanges") += t.exchanges
            row("plan.scans") += t.scans
            row(s"family.${Queries.moduleOf(q.name)}.s") += t.total
          }
        }
      }
      (total, row.toMap)
    }
    loop(o.seconds, if (o.trace) 1 else 2) { i =>
      brackets += Some(pass(2 * i, None)._1)
      if (o.trace) {
        val tr = new Tracer(spark)
        tracers += tr
        val (t, row) = pass(2 * i + 1, Some(tr))
        tr.close()
        layerRows += row
        tracedWalls += Some(t)
      }
    }
    if (o.trace) brackets += Some(pass(2 * tracedWalls.size, None)._1)
    spark.stop()
    mismatches.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    writeSpans(o, tracers.toSeq)
    val m = new Metrics
    if (o.trace) layerMetrics(m, layerRows.toSeq, overheads(tracedWalls.toSeq, brackets.toSeq))
    else {
      val suite = latencies.values.map(ts => median(ts.toSeq)).sum
      endToEnd(m, setup, Seq(suite), latencies.values.flatten.toSeq,
        (expected.size - mismatches.size).toDouble / expected.size, tally)
    }
    latencies.toSeq.sortBy(_._1).foreach { case (q, ts) =>
      System.err.println(f"[perfbench] $q%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    System.err.println(s"[perfbench] queries: ${specs.size} queries, " +
      s"${latencies.values.map(_.size).sum} timed executions, ${mismatches.size} check failures")
    (mismatches.isEmpty, tally, m)
  }

  /** Records row counts and canonical hashes of the queries listed in
    * `--expected`, run twice in two sessions; a hash that differs between
    * the two is recorded as `-` (row count only).
    */
  private def record(o: Opts, out: String): Unit = {
    val names = Queries.loadExpected(o.expected).map(_.name)
    def once(): Seq[(String, Long, String, Double)] = {
      val spark = session()
      try names.map { n =>
        val t0 = System.nanoTime()
        val (rows, hash) = Queries.canonicalHash(graft.SparkEntry.queries(n)(spark, o.data))
        (n, rows, hash, (System.nanoTime() - t0) / 1e9)
      } finally spark.stop()
    }
    val (a, b) = (once(), once())
    val lines = a.zip(b).map { case ((n, rows, h1, s), (_, rows2, h2, _)) =>
      require(rows == rows2, s"$n: row count differs between two runs ($rows vs $rows2)")
      System.err.println(f"[perfbench] $n%-40s $rows%8d rows ${if (h1 == h2) "stable" else "UNSTABLE"} $s%.3f s")
      s"$n\t${Queries.moduleOf(n)}\t$rows\t${if (h1 == h2) h1 else "-"}"
    }
    Files.writeString(Paths.get(out),
      "# query\tmodule\trows\tcanonical hash (- = not stable across two runs)\n" + lines.mkString("", "\n", "\n"))
  }
}
