package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tagged Slow: part of the FULL adversarial profile (the round gate). The
  * fast iteration profile excludes it via
  * `sbt -batch "testOnly * -- -l org.scalatest.tags.Slow"` (see BASELINE.md
  * "Round-gate profiles").
  *
  * The full-inventory plan audit as a pinned suite (r14). The "zero ERROR
  * keys; no CartesianProduct except q65's MLlib-internal one" invariant
  * is what `runMain graft.Probe plan <sfDir> ALL` prints — and a
  * cartesian regression adds NO exchange, so ShuffleCountSpec's shuffle
  * budget could never catch it. This suite runs [[Probe.census]] (the
  * exact logic the audit prints) over every `SparkEntry.queries` key at
  * sf0.001 and pins the audit's conclusions, so the invariant fails CI
  * instead of waiting for someone to run the audit.
  *
  * Unlike PlanRegressionSpec's sweeps (which skip the keys that execute
  * jobs during plan CONSTRUCTION — ALS fits, fixpoint loops — for
  * fast-profile time), this suite audits ALL 278 keys: the construction
  * jobs run at sf0.001, which is what makes it Slow-profile material.
  */
@org.scalatest.tags.Slow
class PlanAuditSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val d = TestSpark.sf0001

  // one census pass shared by the tests below (plan construction for the
  // model/fixpoint keys costs real jobs — don't pay it per test)
  private lazy val audit: Map[String, Either[String, Map[String, Int]]] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      k -> Probe.census(s, d, k, fn)
    }.toMap

  test("census covers the full frozen inventory and no key's plan errors") {
    assert(audit.size == SparkEntry.queries.size,
      s"audit rows ${audit.size} != inventory ${SparkEntry.queries.size}")
    val errors = audit.collect { case (k, Left(e)) => s"$k: $e" }
    assert(errors.isEmpty,
      s"plan construction errored for:\n  ${errors.mkString("\n  ")}")
  }

  test("no CartesianProduct anywhere except q65's MLlib-internal one") {
    // The scale invariant the manual ritual existed for: an unhinted cross
    // of two fact-proportional relations is the classic silent scale-killer
    // and it adds NO exchange (so the shuffle budget stays green). q65's
    // recommendForAllUsers carries MLlib's own blocked cross join — that
    // one is internal to the library and allowed; nothing else may plan a
    // shuffle-based cartesian. (q18's contractual cross is a 1-row-side
    // BNLJ, which the PlanRegressionSpec BNLJ sweep bounds — it never
    // appears as CartesianProduct.)
    val cart = audit.collect {
      case (k, Right(ops)) if ops.getOrElse("CartesianProduct", 0) > 0 => k
    }.toSet
    assert(cart.subsetOf(Set("q65_als_recommend")),
      s"unexpected CartesianProduct in: ${(cart - "q65_als_recommend").toSeq.sorted.mkString(", ")}")
  }

  test("the census is non-vacuous: the inventory's plans really were walked") {
    // a regex/refactor bug that made census return empty maps for
    // everything would turn the cartesian test above vacuous — most keys
    // carry at least one join/exchange/window, so require a healthy floor
    val withOps = audit.count { case (_, Right(ops)) => ops.nonEmpty; case _ => false }
    assert(withOps >= 200,
      s"only $withOps keys show any audited operator — census looks vacuous")
    // and the known shapes are visible: q10's hinted dim broadcast, q40's
    // TakeOrderedAndProject top-k, q30's window
    assert(audit("q10_join_broadcast").exists(_.contains("BroadcastExchange")))
    assert(audit("q40_orderby_limit_topk").exists(_.contains("TakeOrderedAndProject")))
    assert(audit("q30_window_topk_per_group").exists(_.contains("Window")))
  }
}
