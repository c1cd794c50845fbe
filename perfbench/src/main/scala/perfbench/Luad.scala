package perfbench

import graft.pipeline._
import java.io.{File, PrintStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The LUAD workload: one operation is one pipeline run, from
  * `DefParser.parseFile` to the TSV sink written.
  */
object Luad {

  val layers: Seq[String] = Seq("defparser", "ingest", "completion", "pearson", "cc",
    "filter", "svm_features", "svm_train", "svm_predict", "sink")

  /** What one run produced: its sink lines (sorted) and probe counts. */
  final case class Outcome(seconds: Double, lines: Seq[String], nBefore: Long, nAfter: Long)

  /** Counts only a traced run sees: files registered by the definition
    * file, rows of the ingested and the completed matrix, Pearson edges,
    * components.
    */
  final case class Counts(files: Int, cells: Long, completedCells: Long, edges: Long, components: Long)

  private val PathPrefix = "[graft] pearson path: "
  @volatile private var lastPath: Option[String] = None

  /** `Network.apply` logs its dense/relational choice only to stderr;
    * this wraps stderr to keep the last choice logged, so the traced run
    * can follow the engine's own gate instead of a copy of it.
    */
  def watchPearsonPath(): Unit = System.setErr(new PrintStream(System.err, true) {
    override def println(x: String): Unit = {
      if (x != null && x.startsWith(PathPrefix)) lastPath = Some(x.stripPrefix(PathPrefix).takeWhile(_ != ' '))
      super.println(x)
    }
  })

  private def baseDir(gen: Corpus.Generated): String = new File(gen.defFile).getParent

  private def sinkLines(gen: Corpus.Generated): Seq[String] = {
    val parts = Option(new File(gen.outputDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    parts.flatMap { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try src.getLines().toVector finally src.close()
    }.sorted
  }

  /** The untraced run: exactly what `LuadPipeline.main` does. */
  def run(spark: SparkSession, gen: Corpus.Generated): Outcome = {
    val t0 = System.nanoTime()
    val config = DefParser.parseFile(gen.defFile)
    val result = LuadPipeline.run(spark, baseDir(gen), config)
    LuadPipeline.writeOutput(result.predictions, config.outputPath)
    val s = (System.nanoTime() - t0) / 1e9
    result.predictions.unpersist()
    Outcome(s, sinkLines(gen), result.nProbesBefore, result.nProbesAfter)
  }

  /** The traced run: `LuadPipeline.run`'s calls in its order, each in a
    * span, materializing only where `run` does; the network step is
    * `Network.apply` split into its three calls, on the dense/relational
    * path that `Network.apply` chose in the last untraced run (on the
    * same corpus and session, so the same choice).
    */
  def traced(spark: SparkSession, gen: Corpus.Generated, tr: Tracer, op: Int): (Outcome, Counts) = {
    import spark.implicits._
    def span[T](layer: String)(body: => T): T = tr.span(op, layer)(body)
    val mem = StorageLevel.MEMORY_AND_DISK
    val t0 = System.nanoTime()
    val config = span("defparser")(DefParser.parseFile(gen.defFile))
    val (ing, matrix, covered, nBefore) = span("ingest") {
      val ing = Ingest.ingest(spark, baseDir(gen), config)
      val matrix = ing.matrix.persist(mem)
      val covered = matrix.select("sample").distinct().collect().map(_.getInt(0)).toSet
      val nBefore = matrix.select("probe").distinct().count()
      val uncovered = ing.sampleDict.collect()
        .filterNot(r => covered.contains(r.getAs[Int]("sample")))
      require(uncovered.isEmpty, s"samples with zero parseable rows: ${uncovered.mkString(", ")}")
      (ing, matrix, covered, nBefore)
    }
    val cards = Some((covered.size.toLong, nBefore))
    val (completed, completedCells) = span("completion") {
      val c = Completion.complete(spark, matrix, Completion.AlsParams(), cards).persist(mem)
      (c, c.count())
    }
    val t = config.pcThreshold.getOrElse(sys.error("the corpus sets no pc-threshold"))
    val useDense = lastPath match {
      case Some("dense-broadcast") => true
      case Some("relational-self-join") => false
      case other => sys.error(s"no Pearson path logged by Network.apply to follow: $other")
    }
    System.err.println(s"[perfbench] traced run follows pearson path ${lastPath.get}")
    val (edges, edgeCount) = span("pearson") {
      val e = (if (useDense) Network.pearsonEdgesDense(spark, completed, t)
               else Network.pearsonEdges(completed, t)).localCheckpoint()
      (e, e.count())
    }
    val comps = span("cc") {
      val c = Network.connectedComponents(spark, edges)
      c.count()
      c
    }
    val (filtered, nAfter) = span("filter") {
      val f = Network.filterMatrix(completed, comps).persist(mem)
      f.count()
      (f, f.select("probe").distinct().count())
    }
    val features = span("svm_features") {
      val f = Svm.assembleFeatures(filtered).persist(mem)
      f.count()
      f
    }
    val labels = config.training.map(s => (s.name, s.tumorous)).toDF("sample_name", "tumorous")
      .join(ing.sampleDict, "sample_name").select("sample", "tumorous")
    val predictIds = config.predicting.map(_.name).toDF("sample_name")
      .join(ing.sampleDict, "sample_name").select("sample")
    val model = span("svm_train")(Svm.train(spark, features, labels, Svm.SvmParams()))
    val decoded = span("svm_predict") {
      val toScore = features.join(broadcast(predictIds), Seq("sample"), "left_semi")
      val d = Svm.predict(model, toScore)
        .join(broadcast(ing.sampleDict), Seq("sample"), "left")
        .select(coalesce(col("sample_name"), lit("Unknown")).as("sample_name"), col("prediction"))
        .persist(mem)
      d.count()
      d
    }
    filtered.unpersist(); features.unpersist()
    span("sink")(LuadPipeline.writeOutput(decoded, config.outputPath))
    val s = (System.nanoTime() - t0) / 1e9
    decoded.unpersist()
    // outside the timed wall: counts `run` never makes; the ingested
    // matrix is still cached (`run` frees it before the sink, this run
    // just after)
    val cells = matrix.count()
    matrix.unpersist(); completed.unpersist()
    val components = comps.select("component").distinct().count()
    (Outcome(s, sinkLines(gen), nBefore, nAfter), Counts(config.samples.map(_.files.size).sum, cells, completedCells, edgeCount, components))
  }

  /** Output checks of one run; returns the accuracy against the planted
    * labels, or the first problem found.
    */
  def check(o: Outcome, gen: Corpus.Generated): Either[String, Double] = {
    val Line = "([^\t]+)\t(1\\.0|-1\\.0)".r
    val parsed = o.lines.map {
      case Line(name, v) => Some(name -> (v == "1.0"))
      case _ => None
    }
    // the filter keeps one probe per planted module; a probe whose
    // ALS-imputed cells pull all its correlations under the threshold
    // survives on its own, so allow up to 1% of probes above that
    val (minAfter, maxAfter) = (gen.nModules, gen.nModules + Corpus.nProbes / 100)
    if (parsed.contains(None)) Left(s"sink line not 'name\\t±1.0': ${o.lines.find(Line.unapplySeq(_).isEmpty).get}")
    else if (parsed.flatten.map(_._1).toSet != gen.predictive.keySet || parsed.size != gen.predictive.size)
      Left(s"sink holds ${parsed.size} predictions, expected one per predictive sample (${gen.predictive.size})")
    else if (o.nBefore != Corpus.nProbes) Left(s"ingest saw ${o.nBefore} probes, generated ${Corpus.nProbes}")
    else if (o.nAfter < minAfter || o.nAfter > maxAfter)
      Left(s"filter kept ${o.nAfter} probes, expected $minAfter to $maxAfter")
    else Right(parsed.flatten.count { case (n, t) => gen.predictive(n) == t }.toDouble / parsed.size)
  }

  /** Checks of the counts a traced run sees: ingest read every generated
    * cell, and completion filled the whole sample × probe grid.
    */
  def checkCounts(c: Counts, gen: Corpus.Generated): Option[String] =
    if (c.cells != gen.observedCells) Some(s"ingest read ${c.cells} cells, generated ${gen.observedCells}")
    else if (c.completedCells != Corpus.nSamples.toLong * Corpus.nProbes)
      Some(s"completion gave ${c.completedCells} cells, expected ${Corpus.nSamples} x ${Corpus.nProbes}")
    else None
}
