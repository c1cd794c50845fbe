package perfbench

import graft.{QuerySpec, SparkEntry}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.FileSourceScanExec

/** The query-surface workload: one operation is one `SparkEntry.specs`
  * query, timed as construct + plan + `noop` write.
  */
object Queries {

  /** The 16 spec modules `SparkEntry.specs` concatenates. */
  val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "Relational" -> Relational.specs, "TextOps" -> TextOps.specs,
    "DedupOps" -> DedupOps.specs, "SimilarityOps" -> SimilarityOps.specs,
    "MultimodalOps" -> MultimodalOps.specs, "WindowOps" -> WindowOps.specs,
    "TemporalOps" -> TemporalOps.specs, "PipelineOps" -> PipelineOps.specs,
    "ScaleJoins" -> ScaleJoins.specs, "CurationOps" -> CurationOps.specs,
    "TypedOps" -> TypedOps.specs, "GraphOps" -> GraphOps.specs,
    "ModernSqlOps" -> ModernSqlOps.specs, "GeoOps" -> GeoOps.specs,
    "StatsOps" -> StatsOps.specs, "DegenerateProbes" -> DegenerateProbes.specs)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ss) => ss.map(_.name -> m) }.toMap

  /** One recorded expectation: rows always, hash when it was stable. */
  final case class Expected(name: String, rows: Long, hash: Option[String])

  def loadExpected(path: String): Seq[Expected] = {
    val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(name, _, rows, hash) = l.split("\t")
      Expected(name, rows.toLong, Some(hash).filter(_ != "-"))
    }.toVector
    finally src.close()
  }

  def spec(name: String): QuerySpec =
    SparkEntry.specs.find(_.name == name).getOrElse(sys.error(s"no query named $name"))

  final case class Timing(construct: Double, plan: Double, exec: Double, exchanges: Int, scans: Int) {
    def total: Double = construct + plan + exec
  }

  /** One timed query; with a tracer, each of the three calls is a span
    * of operation `op`.
    */
  def run(spark: SparkSession, dir: String, q: QuerySpec, trace: Option[(Tracer, Int)] = None): Timing = {
    def span[T](layer: String)(body: => T): T = trace.fold(body) { case (tr, op) => tr.span(op, layer)(body) }
    val t0 = System.nanoTime()
    val df = span("construct")(SparkEntry.queries(q.name)(spark, dir))
    val t1 = System.nanoTime()
    val plan = span("plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    span("exec")(df.write.format("noop").mode("overwrite").save())
    val t3 = System.nanoTime()
    val nodes = flatten(plan)
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]))
  }

  /** Every node of a physical plan, through adaptive wrappers and
    * subqueries.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(flatten)
  }

  /** Order-insensitive hash of a result: columns in name order, doubles
    * and floats rounded to 6 decimal places, rows sorted.
    */
  def canonicalHash(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => cell(b.doubleValue)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${cell(k)}:${cell(x)}" }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }
}
