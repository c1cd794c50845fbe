package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test`
  * fork; getOrCreate dedupes across suites).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // Built THROUGH GraftSession (small core/partition counts for test
  // speed) — a hand-copied conf here drifted once already (adaptive
  // was pinned in GraftSession but absent in the copy), and every
  // future semantic conf added there must apply to specs too, or the
  // suite green-lights behavior production sessions don't have.
  lazy val session: SparkSession = {
    val s = GraftSession.local(cores = 4, shufflePartitions = 4)
    // the global-window gate and its red-proofs plan unpartitioned
    // windows on purpose; WindowExec's per-plan warning would flood
    // the test log (GlobalWindowConventionSpec enforces the rule)
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    s
  }
}
