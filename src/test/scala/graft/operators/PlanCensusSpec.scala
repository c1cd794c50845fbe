package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Red-proof for the one pinned-exemption comparison every
  * whole-surface gate shares (`PlanCensus.gate`), fed a synthetic
  * census so no query is built.
  */
class PlanCensusSpec extends AnyFunSuite {

  test("gate reports unallowlisted offenders, dead entries, extra offenders and failed builds") {
    val sites: Map[String, Set[String]] = Map(
      "clean" -> Set(),
      "unlisted" -> Set("x / y"),
      "pinned_ok" -> Set("a"),
      "pinned_dead" -> Set(),
      "pinned_extra" -> Set("a", "b"))
    val allow: Map[String, (String, Set[String])] = Map(
      "pinned_ok" -> ("reason", Set("a")),
      "pinned_dead" -> ("reason", Set("a")),
      "pinned_extra" -> ("reason", Set("a")))
    val census: Seq[(String, Either[Throwable, String])] =
      (sites.keys.toSeq :+ "scan_throws").sorted.map(n => n -> Right(n)) :+
        ("build_throws" -> Left(new IllegalStateException("boom")))
    val offenders = PlanCensus.compare(census, allow) { n =>
      sites.getOrElse(n, throw new RuntimeException("walk"))
    }
    assert(offenders == Seq(
      "pinned_dead: exemption pins {a} but scan found {nothing — dead entry}",
      "pinned_extra: exemption pins {a} but scan found {a, b}",
      "scan_throws (failed to analyze: walk)",
      "unlisted: x / y",
      "build_throws (failed to analyze: boom)"))
  }
}
