package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded generator of a TCGA-format LUAD corpus: per-sample RNASeq and
  * miRNASeq TSV files with their header lines, plus a definition file in
  * the `DefParser` grammar that registers them.
  *
  * What is planted, and what the pipeline should recover from it:
  *  - Probes come in co-expressed modules of `moduleSize` (8) consecutive
  *    probes of one type. Within a module every probe is a noisy copy of
  *    one latent per-sample factor (|r| far above 0.8); factors of
  *    different modules are independent (|r| far below 0.8). The Pearson
  *    filter therefore keeps one probe per module, plus the odd probe
  *    whose ALS-imputed cells pull its correlations under 0.8.
  *  - A tumour shift: the factors of `signalModules` (32) modules move by
  *    `shift` (1.5) standard deviations in tumorous samples. Every sample,
  *    training or predictive, has a planted label.
  *  - Missing cells: each (sample, probe) row is left out of its file
  *    with probability `missing`.
  */
object Corpus {

  // The paper's configuration at reduced probe count: 62 samples (40
  // training, 22 predictive), two probe types, the Pearson/CC filter on
  // the dense path. Probes are cut from the paper's 21,578 to keep runs
  // inside the benchmark's time budget: on 4 cores a warm run takes
  // about 11 s at 880 probes and 13 s at 2,640, most of it Spark job
  // scheduling.
  val nTrain = 40
  val nPredict = 22
  val nSamples: Int = nTrain + nPredict
  private val rnaProbes = 800
  private val mirnaProbes = 80
  val nProbes: Int = rnaProbes + mirnaProbes
  private val missing = 0.02

  final case class Generated(
      defFile: String,
      outputDir: String,
      predictive: Map[String, Boolean], // predictive sample → planted tumorous
      nModules: Long, // probes the Pearson/CC filter should keep
      observedCells: Long,
  )

  private val tumourShare = 0.4
  private val moduleSize = 8
  private val signalModules = 32
  private val shift = 1.5 // standard deviations of the module factor

  private val rnaHeader = "gene_id\tnormalized_count"
  private val mirnaHeader = "miRNA_ID\tread_count\treads_per_million_miRNA_mapped\tcross-mapped"

  /** Module count of a block of `n` probes cut into runs of `size`. */
  private def modulesOf(n: Int, size: Int): Int = (n + size - 1) / size

  def write(dir: Path, seed: Long): Generated = {
    val rnd = new scala.util.Random(seed)
    Files.createDirectories(dir.resolve("rna"))
    Files.createDirectories(dir.resolve("mirna"))

    val names = (0 until nSamples).map(i => f"TCGA-BM-${i / 100}%02d${i % 100}%02d-01A")
    val (train, predict) = names.splitAt(nTrain)
    // both classes present among training samples, or the SVM has
    // nothing to separate
    val tumour = names.map(_ -> (rnd.nextDouble() < tumourShare)).toMap ++
      Seq(train.head -> true, train(1) -> false)

    val rnaModules = modulesOf(rnaProbes, moduleSize)
    val nModules = rnaModules + modulesOf(mirnaProbes, moduleSize)
    // latent factor per (module, sample); signal modules spread over the
    // module range so both probe types carry the tumour shift
    val signal = (0 until signalModules).map(k => k * nModules / signalModules).toSet
    val factor = Array.tabulate(nModules, nSamples) { (m, s) =>
      rnd.nextGaussian() + (if (signal(m) && tumour(names(s))) shift else 0.0)
    }
    // per-probe level and loading, so probes of one module differ in
    // scale but not in shape
    def probeParams(n: Int) = Array.fill(n)((5.0 + 10.0 * rnd.nextDouble(), 0.5 + rnd.nextDouble()))
    val rnaParams = probeParams(rnaProbes)
    val mirnaParams = probeParams(mirnaProbes)
    val rnaNames = (0 until rnaProbes).map(p => s"GENE${p + 1}|${100000 + p}")
    val mirnaNames = (0 until mirnaProbes).map(p => s"hsa-mir-${p + 1}")

    var observed = 0L
    val present = Array.fill(nProbes)(false)
    def writeFile(path: Path, header: String, extra: String, s: Int,
        probeNames: IndexedSeq[String], params: Array[(Double, Double)],
        moduleBase: Int, probeBase: Int): Unit = {
      val sb = new StringBuilder(header).append('\n')
      var p = 0
      while (p < probeNames.length) {
        val m = moduleBase + p / moduleSize
        val (level, load) = params(p)
        val v = level + load * factor(m)(s) + 0.05 * rnd.nextGaussian()
        // the first sample observes every probe, so no probe is absent
        // from the whole grid
        if (s == 0 || rnd.nextDouble() >= missing) {
          sb.append(probeNames(p)).append('\t').append(f"$v%.6f").append(extra).append('\n')
          observed += 1
          present(probeBase + p) = true
        }
        p += 1
      }
      Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    }

    val defs = new StringBuilder("# generated TCGA-format LUAD corpus\n")
    train.foreach(n => defs ++= s"def\tsample\t$n\n")
    predict.foreach(n => defs ++= s"def\tpredictive\t$n\n")
    defs ++= "def\tsample-type\trna\n"
    defs ++= "def\tsample-type\tmirna\n"
    defs ++= "def\tpc-threshold\t0.8\n"
    val outputDir = dir.resolve("output").toString
    defs ++= s"def\toutput\t$outputDir\n"
    names.zipWithIndex.foreach { case (n, s) =>
      if (train.contains(n) && tumour(n)) defs ++= s"diagnosis\t$n\tTN\n"
      val rna = s"rna/$n.rsem.genes.normalized_results"
      writeFile(dir.resolve(rna), rnaHeader, "", s, rnaNames, rnaParams, 0, 0)
      defs ++= s"rna\t$n\t$rna\n"
      val mirna = s"mirna/$n.mirna.quantification.txt"
      writeFile(dir.resolve(mirna), mirnaHeader, "\t12.5\tN", s, mirnaNames, mirnaParams,
        rnaModules, rnaProbes)
      defs ++= s"mirna\t$n\t$mirna\n"
    }
    val defFile = dir.resolve("input.txt")
    Files.write(defFile, defs.toString.getBytes(StandardCharsets.UTF_8))
    require(present.forall(identity), "generator left a probe unobserved in every sample")
    Generated(defFile.toString, outputDir, predict.map(n => n -> tumour(n)).toMap,
      nModules.toLong, observed)
  }
}
