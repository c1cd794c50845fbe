package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Ingest + end-to-end pipeline over a synthetic mini-corpus written in
  * the reference's file format (TSV expression files with a header
  * line, definition file driving the registry).
  */
class IngestSpec extends SparkSpec {

  private def writeCorpus(dir: Path, nTrain: Int, nPredict: Int, nProbes: Int): String = {
    val rnd = new scala.util.Random(9)
    Files.createDirectories(dir.resolve("expr"))
    val names = (0 until nTrain).map(i => f"TRAIN-$i%02d") ++
      (0 until nPredict).map(i => f"PRED-$i%02d")
    val defLines = new StringBuilder
    defLines ++= "# synthetic corpus\n"
    names.take(nTrain).foreach(n => defLines ++= s"def\tsample\t$n\n")
    names.drop(nTrain).foreach(n => defLines ++= s"def\tpredictive\t$n\n")
    defLines ++= "def\tsample-type\texpr\n"
    defLines ++= "def\tpc-threshold\tnone\n"
    names.zipWithIndex.foreach { case (n, i) =>
      // tumorous ⇔ even index; signal probe p000 separates classes
      if (i % 2 == 0 && i < nTrain) defLines ++= s"diagnosis\t$n\tTN\n"
      val f = s"expr/$n.expr.txt"
      defLines ++= s"expr\t$n\t$f\n"
      val sb = new StringBuilder("probe_id\traw_count\textra_col\n")
      val base = if (i % 2 == 0) 8.0 else -8.0
      (0 until nProbes).foreach { p =>
        val v = if (p == 0) base + rnd.nextGaussian() * 0.2 else rnd.nextGaussian()
        sb ++= f"p$p%03d\t$v%.6f\tN\n"
      }
      // a malformed row — must be dropped leniently
      sb ++= "truncated_row_no_value\n"
      Files.writeString(dir.resolve(f), sb.toString)
    }
    Files.writeString(dir.resolve("input.txt"), defLines.toString)
    dir.toString
  }

  test("ingest: lenient parse, deterministic sorted dictionaries, full COO") {
    val dir = Files.createTempDirectory("graft_corpus")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 5)
    val config = DefParser.parseFile(s"$base/input.txt")
    assert(config.samples.size == 8)

    val r = Ingest.ingest(spark, base, config)
    // 8 samples × 5 probes; header + malformed rows dropped
    assert(r.matrix.count() == 40)
    val probes = r.probeDict.orderBy("probe").collect().map(_.getString(0)).toSeq
    assert(probes == Seq("p000", "p001", "p002", "p003", "p004")) // sorted ids
    val samples = r.sampleDict.orderBy("sample").collect().map(_.getString(0)).toSeq
    assert(samples == samples.sorted)
    // re-running yields identical dictionaries (determinism, quirk Q3)
    val r2 = Ingest.ingest(spark, base, config)
    assert(
      r2.probeDict.orderBy("probe").collect().toSeq ==
        r.probeDict.orderBy("probe").collect().toSeq)
  }

  test("a HEADERLESS expression file keeps its first data row (faithful leniency)") {
    // the reference drops rows only when the VALUE fails the Double
    // parse (lenient=true); a Spark header=true read ate the first
    // DATA row of a headerless export — an observed cell silently
    // became a missing one for ALS to fabricate (red against the old
    // formulation). A headered file must read identically either way.
    val dir = Files.createTempDirectory("graft_headerless")
    Files.writeString(dir.resolve("nohdr.txt"),
      "p000\t1.5\np001\t2.5\n")
    Files.writeString(dir.resolve("hdr.txt"),
      "probe_id\traw_count\np000\t1.5\np001\t2.5\n")
    def rows(f: String) = Ingest
      .readType(spark, dir.toString, Map(f -> "S1"))
      .orderBy("probe_name")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    val want = Seq(("p000", 1.5), ("p001", 2.5))
    assert(rows("nohdr.txt") == want, "headerless file lost a data row")
    assert(rows("hdr.txt") == want, "header line not dropped leniently")
  }

  test("end-to-end pipeline on separable mini-corpus: correct ±1 predictions (P4)") {
    val dir = Files.createTempDirectory("graft_corpus_e2e")
    val base = writeCorpus(dir, nTrain = 12, nPredict = 6, nProbes = 8)
    val config = DefParser.parseFile(s"$base/input.txt")
    assert(config.pcThreshold.isEmpty) // `none` in def file

    val result = LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 3, maxIter = 3, numBlocks = 2),
      Svm.SvmParams(maxIter = 20))
    val preds = result.predictions.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(preds.size == 6)
    assert(preds.values.forall(p => p == 1.0 || p == -1.0))
    preds.foreach { case (name, p) =>
      val idx = name.split("-")(1).toInt + 12 // PRED-i is sample 12+i
      assert(p == (if (idx % 2 == 0) 1.0 else -1.0), s"$name")
    }
    // matrix was already complete → no probes dropped (threshold none)
    assert(result.nProbesBefore == 8 && result.nProbesAfter == 8)
  }

  test("a registered sample with zero parseable rows fails the run loudly") {
    // r15 pipeline review: such a sample previously VANISHED — no
    // matrix rows, nothing fabricated by completion, the training join
    // shrank, and the run exited 0 with N-1 predictions
    val dir = Files.createTempDirectory("graft_corpus_empty")
    val base = writeCorpus(dir, nTrain = 8, nPredict = 4, nProbes = 6)
    // overwrite one predictive sample's file with header-only content:
    // every row fails the lenient parse
    Files.writeString(dir.resolve("expr/PRED-01.expr.txt"), "probe_id\traw_count\textra\n")
    val config = DefParser.parseFile(s"$base/input.txt")
    val ex = intercept[IllegalArgumentException] {
      LuadPipeline.run(
        spark, base, config,
        Completion.AlsParams(rank = 2, maxIter = 2, numBlocks = 2),
        Svm.SvmParams(maxIter = 5))
    }
    assert(ex.getMessage.contains("PRED-01") &&
      ex.getMessage.contains("zero parseable"), ex.getMessage)
  }

  test("end-to-end with pc-threshold: correlated probes collapse to representatives") {
    val dir = Files.createTempDirectory("graft_corpus_thr")
    val base = writeCorpus(dir, nTrain = 12, nPredict = 4, nProbes = 6)
    // rewrite probe p005 to mirror p000 exactly → |r| = 1 edge
    val config0 = DefParser.parseFile(s"$base/input.txt")
    config0.samples.foreach { sspec =>
      val f = dir.resolve(sspec.files("expr"))
      val lines = Files.readAllLines(f)
      val byProbe = lines.toArray.map(_.toString).collect {
        case l if l.startsWith("p") => l.split("\t")(0) -> l.split("\t")(1)
      }.toMap
      val patched = lines.toArray.map(_.toString).map { l =>
        if (l.startsWith("p005")) s"p005\t${byProbe("p000")}\tN" else l
      }
      Files.writeString(f, patched.mkString("\n"))
    }
    val config = config0.copy(pcThreshold = Some(0.99))
    val result = LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 3, maxIter = 3, numBlocks = 2),
      Svm.SvmParams(maxIter = 20))
    assert(result.nProbesBefore == 6)
    assert(result.nProbesAfter == 5) // p005 merged into p000's component
    assert(result.predictions.count() == 4)
  }
}
