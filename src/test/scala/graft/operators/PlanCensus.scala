package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame

/** The declared query surface, built ONCE per test JVM and shared by
  * every whole-surface convention gate (Division, Oracle (a),
  * NullOrdering, ArrayOrdering, GlobalWindow, TopK, PlanAudit).
  *
  * Building the 243 DataFrames is what costs — schema inference, eager
  * checkpoints and model fits run at construction, 65–105 s at sf0.001
  * on a 4-core host — while each gate's detector walks the resolved
  * plans in well under a second. The first gate to run pays for the one
  * build; the rest scan the same plans.
  *
  * Detectors only READ the plans (analyzed, or `executedPlan` for
  * PlanAudit), so sharing the DataFrames across suites is safe.
  */
object PlanCensus {

  val sfDir = "/root/testdata/sf0.001"

  /** query name -> its DataFrame with the analyzed plan forced, or the
    * failure its construction threw (reported by every gate).
    */
  lazy val built: Seq[(String, Either[Throwable, DataFrame])] =
    SparkEntry.specs.map { q =>
      q.name -> (try {
        val df = q.fn(SparkSpec.session, sfDir)
        df.queryExecution.analyzed
        Right(df)
      } catch {
        case e: Throwable => Left(e)
      })
    }

  /** Offenders of one convention over the shared census: `scan` returns
    * the offending sites of one query's DataFrame, `allowlist` maps a
    * query to (reason, the EXACT site set it excuses).
    */
  def gate(allowlist: Map[String, (String, Set[String])])(
      scan: DataFrame => Set[String]): Seq[String] =
    compare(built, allowlist)(scan)

  /** The pinned-exemption comparison behind `gate`, over any census. An
    * exemption must excuse exactly what the scan finds: zero offenders
    * is a dead entry (delete it), an extra offender is a new site
    * silently riding an old exemption (review it).
    */
  private[operators] def compare[A](
      census: Seq[(String, Either[Throwable, A])],
      allowlist: Map[String, (String, Set[String])])(
      scan: A => Set[String]): Seq[String] = {
    def show(s: Set[String]) = s.toSeq.sorted.mkString(", ")
    census.flatMap { case (name, df) =>
      try {
        val bad = df.fold(throw _, scan)
        allowlist.get(name) match {
          case None =>
            if (bad.nonEmpty) Some(s"$name: ${show(bad)}") else None
          case Some((_, pinned)) =>
            if (bad == pinned) None
            else Some(s"$name: exemption pins {${show(pinned)}} " +
              s"but scan found {${if (bad.isEmpty) "nothing — dead entry" else show(bad)}}")
        }
      } catch {
        case e: Throwable => Some(s"$name (failed to analyze: ${String.valueOf(e.getMessage).take(100)})")
      }
    }
  }
}
