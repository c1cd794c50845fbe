package graft.pipeline

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks
import scala.util.Random

class NetworkSpec extends SparkSpec with TableDrivenPropertyChecks {

  private def cooDF(entries: Seq[(Int, Int, Double)]) = {
    val s = spark; import s.implicits._
    entries.toDF("sample", "probe", "value")
  }

  private def naivePearson(x: Seq[Double], y: Seq[Double]): Double = {
    val n = x.size
    val mx = x.sum / n; val my = y.sum / n
    val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
    val sx = math.sqrt(x.map(a => (a - mx) * (a - mx)).sum)
    val sy = math.sqrt(y.map(b => (b - my) * (b - my)).sum)
    cov / (sx * sy)
  }

  test("pearsonEdges matches a naive oracle on a random dense matrix") {
    val rnd = new Random(7)
    val nSamples = 20; val nProbes = 8
    val m = Array.fill(nProbes)(Array.fill(nSamples)(rnd.nextDouble() * 10))
    // make probes 2,5 strongly correlated with probe 0
    for (s <- 0 until nSamples) {
      m(2)(s) = m(0)(s) * 3.0 + 1.0 + rnd.nextGaussian() * 0.01
      m(5)(s) = -m(0)(s) * 2.0 + rnd.nextGaussian() * 0.01
    }
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, m(p)(s))
    val got = Network.pearsonEdges(cooDF(coo), 0.0)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    for { i <- 0 until nProbes; j <- i + 1 until nProbes } {
      val expected = naivePearson(m(i).toSeq, m(j).toSeq)
      assert(
        math.abs(got((i, j)) - expected) < 1e-9,
        s"pair ($i,$j): got ${got((i, j))}, naive $expected")
    }
  }

  test("pearsonEdges threshold + NaN guard: constant probe excluded") {
    // probe 1 constant → zero variance → NaN r → must be filtered (F5)
    val coo = (0 until 10).flatMap(s =>
      Seq((s, 0, s.toDouble), (s, 1, 5.0), (s, 2, s * 2.0 + 1)))
    val edges = Network.pearsonEdges(cooDF(coo), 0.9).collect()
    assert(edges.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((0, 2)))
    assert(math.abs(edges.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("pearson helper: NULL, not a throw, on a constant column and on n = 1; corr's value otherwise") {
    val s = spark; import s.implicits._
    val rnd = new Random(29)
    val random = (0 until 2000).map { _ =>
      val x = rnd.nextGaussian(); (0, x, 0.6 * x + rnd.nextGaussian())
    }
    val constant = (0 until 50).map(i => (1, i.toDouble, 5.0))
    val single = Seq((2, 1.0, 2.0))
    val got = (random ++ constant ++ single).toDF("g", "x", "y")
      .groupBy("g").agg(Network.pearson(col("x"), col("y")).as("r"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(got(1).isNullAt(1), "constant column must give NULL")
    assert(got(2).isNullAt(1), "a single-row group must give NULL")
    val viaCorr = random.toDF("g", "x", "y").agg(corr("x", "y")).head().getDouble(0)
    assert(math.abs(got(0).getDouble(1) - viaCorr) < 1e-12, s"${got(0)} vs corr $viaCorr")
  }

  /** Writes `df` as the one fixture table `name` of a fresh directory,
    * runs `body` on it, then removes it.
    */
  private def withTable(name: String, df: DataFrame)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_const_series")
    try {
      df.write.parquet(s"$dir/$name.parquet")
      body(dir.toString)
    } finally graft.GraftSession.rmTree(dir.toFile)
  }

  test("q19 gives a NULL r, not DIVIDE_BY_ZERO, for a return flag whose tax never varies") {
    val s = spark; import s.implicits._
    val lineitem = Seq(
      ("A", 1.0, 10.0, 0.01, 0.05), ("A", 2.0, 19.0, 0.02, 0.05), ("A", 3.0, 31.0, 0.04, 0.05),
      ("N", 1.0, 12.0, 0.01, 0.02), ("N", 4.0, 40.0, 0.03, 0.06), ("N", 2.0, 21.0, 0.02, 0.01))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    withTable("lineitem", lineitem) { dir =>
      val got = SparkEntry.queries("q19_corr")(s, dir)
        .collect().map(r => r.getString(0) -> r).toMap
      assert(got("A").isNullAt(2), s"constant l_tax: ${got("A")}")
      assert(!got("A").isNullAt(1) && !got("N").isNullAt(1) && !got("N").isNullAt(2))
    }
  }

  test("q193 gives a NULL r, not DIVIDE_BY_ZERO, for an event type with the same count every day") {
    val s = spark; import s.implicits._
    // per day d: 3 heartbeats (constant), d + 1 clicks, 2(d + 1) views
    val events = (0 until 6).flatMap { d =>
      (Seq.fill(3)("heartbeat") ++ Seq.fill(d + 1)("click") ++ Seq.fill(2 * (d + 1))("view"))
        .map(t => (t, new java.sql.Timestamp(d * 86400000L + 3600000L)))
    }.zipWithIndex.map { case ((t, ts), i) => (i.toLong, ts, 1L, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    withTable("events", events) { dir =>
      val got = SparkEntry.queries("q193_metric_corr")(s, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
      assert(got.keySet == Set(("click", "heartbeat"), ("click", "view"), ("heartbeat", "view")))
      assert(got.values.forall(_.getLong(2) == 6L))
      assert(got(("click", "heartbeat")).isNullAt(3) && got(("heartbeat", "view")).isNullAt(3))
      assert(got(("click", "view")).getDouble(3) == 1.0)
    }
  }

  test("pearsonEdgesDense matches relational pearsonEdges on a complete matrix") {
    val rnd = new Random(13)
    val nSamples = 15; val nProbes = 10
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, rnd.nextDouble() * 4 - 2)
    val df = cooDF(coo)
    def toMap(edges: org.apache.spark.sql.DataFrame) = edges.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val rel = toMap(Network.pearsonEdges(df, 0.1))
    val dense = toMap(Network.pearsonEdgesDense(spark, df, 0.1))
    assert(rel.keySet == dense.keySet)
    rel.foreach { case (k, v) => assert(math.abs(dense(k) - v) < 1e-9, s"$k") }
  }

  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  test("connectedComponents (GraphX) and DF fallback match union-find on random graphs") {
    val s = spark; import s.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 40).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2).distinct
      val df = edges.toDF("pi", "pj")
      val oracle = unionFind(n, edges)
      // canonicalize both sides to min-id-per-component
      def canon(labels: Map[Int, Int]): Map[Int, Int] = {
        val minOf = labels.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
        labels.map { case (v, c) => v -> minOf(c) }
      }
      val gx = Network.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      val dfl = Network.connectedComponentsDF(df)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(canon(gx) == canon(oracle), s"GraphX trial $trial")
      assert(canon(dfl) == canon(oracle), s"DF-loop trial $trial")
      // A6 determinism pin (r15 pipeline review): the label IS the min
      // probe id of its component — asserted DIRECTLY, because canon()
      // above erases the label choice, and filterMatrix's
      // reps-=-distinct(component) shortcut depends on exactly this
      // invariant (a CC swap converging to any other canonical member
      // would pass the canonicalized compare and silently break A6)
      def minLabeled(labels: Map[Int, Int]): Boolean =
        labels.groupBy(_._2).forall { case (c, members) => c == members.keys.min }
      assert(minLabeled(gx), s"GraphX labels not min-id, trial $trial")
      assert(minLabeled(dfl), s"DF-loop labels not min-id, trial $trial")
    }
  }

  test("denseFootprintBytes prices the reference shape and the gate bounds it") {
    // reference corpus: 62 samples × 21.5k probes → ~37 MB at the
    // 28 B/cell peak model, well inside the 256 MB default budget →
    // dense path
    val refBytes = Network.denseFootprintBytes(62, 21500)
    assert(refBytes == 62L * 21500 * 28)
    assert(refBytes <= Network.DefaultMaxDenseBytes)
    // 10k samples × 1M probes (a 100 TB-scale matrix) → ~200 GB —
    // must NOT be collected to any driver
    assert(Network.denseFootprintBytes(10000, 1000000) > Network.DefaultMaxDenseBytes)
  }

  test("apply falls back to the relational path when the footprint exceeds the budget") {
    val rnd = new Random(23)
    val nSamples = 15; val nProbes = 10
    val coo = for {
      p <- 0 until nProbes; s <- 0 until nSamples
    } yield (s, p, rnd.nextDouble() * 4 - 2)
    val df = cooDF(coo)
    // same matrix, both paths, forced via the budget conf: a budget of
    // 0 bytes forbids the dense collect; a huge budget allows it. Both
    // must produce identical surviving probes.
    def survivors(maxBytes: Long): Set[Int] = {
      spark.conf.set("spark.graft.pearson.maxDenseBytes", maxBytes.toString)
      try Network(spark, df, Some(0.5))
        .select("probe").distinct().collect().map(_.getInt(0)).toSet
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    }
    assert(Network.denseFootprintBytes(nSamples, nProbes) > 0L)
    assert(survivors(0L) == survivors(Long.MaxValue))
  }

  test("connectedComponentsDF fails loudly when maxIter is too small") {
    val s = spark; import s.implicits._
    // a path graph 0-1-2-...-9 has diameter 9 — 2 iterations cannot
    // propagate the min label to the far end
    val chain = (0 until 9).map(i => (i, i + 1)).toDF("pi", "pj")
    val e = intercept[IllegalArgumentException] {
      Network.connectedComponentsDF(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough iterations the same graph converges to one component
    val labels = Network.connectedComponentsDF(chain, maxIter = 20)
      .collect().map(r => r.getInt(1)).toSet
    assert(labels == Set(0))
  }

  test("filterMatrix keeps one representative per component + untouched probes") {
    val s = spark; import s.implicits._
    // probes 0-1-2 one component, 3-4 another, 5 untouched
    val coo = (0 until 4).flatMap(smp => (0 to 5).map(p => (smp, p, smp * 10.0 + p)))
    val comps = Seq((0, 0), (1, 0), (2, 0), (3, 3), (4, 3)).toDF("probe", "component")
    val surviving = Network.filterMatrix(cooDF(coo), comps)
      .select("probe").distinct().collect().map(_.getInt(0)).toSet
    assert(surviving == Set(0, 3, 5))
  }

  test("block-correlated synthetic matrix recovers ground-truth components (P3)") {
    val rnd = new Random(5)
    val nSamples = 30
    // two independent latent signals; probes 0-2 follow signal A,
    // probes 3-5 follow signal B, probe 6 is noise
    val a = Array.fill(nSamples)(rnd.nextGaussian())
    val b = Array.fill(nSamples)(rnd.nextGaussian())
    val probes: Seq[Array[Double]] = Seq(
      a.map(_ * 2.0), a.map(_ * -1.5 + 3), a.map(_ * 0.5),
      b.map(_ * 1.0), b.map(_ * 4.0 - 1), b.map(_ * -2.0),
      Array.fill(nSamples)(rnd.nextGaussian()))
    val coo = for {
      (vals, p) <- probes.zipWithIndex; s <- 0 until nSamples
    } yield (s, p, vals(s))
    val edges = Network.pearsonEdges(cooDF(coo), 0.95)
    val comps = Network.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    assert(comps.keySet == Set(0, 1, 2, 3, 4, 5))
    assert(Set(comps(0), comps(1), comps(2)).size == 1)
    assert(Set(comps(3), comps(4), comps(5)).size == 1)
    assert(comps(0) != comps(3))
  }
}
