package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-budget pin: every key's static plan (AQE off) must keep its
  * ShuffleExchange count at or below the recorded budget in
  * `src/test/resources/shuffle_budget.txt`.
  *
  * Every `groupBy`/`join`/`distinct`/`repartition` that is not broadcast-
  * or bucket-co-located is an exchange, and an exchange is the unit of
  * cost that grows with cluster size — at 100 TB an accidental extra
  * shuffle is the difference between one network pass over the corpus and
  * two. The bench only catches such a regression if it moves seconds at
  * sf0.1; this pin catches it structurally at sf0.001, per key, before it
  * costs anything. Budgets are the measured counts at pin time (Spark
  * 4.1.2): a change that REDUCES shuffles passes (tighten the file when
  * deliberate); a change that adds one fails until the budget is re-pinned
  * with justification (`runMain graft.Probe budget <sf0.001> ALL` prints
  * the file). The keys whose construction runs jobs
  * ([[Probe.constructionJobKeys]]) are skipped here as in the other
  * inventory sweeps, and the key sets must match the file exactly so a
  * new query cannot land unpinned.
  */
class ShuffleCountSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val d = TestSpark.sf0001

  test("shuffle budget pin: no key's static plan exceeds its recorded exchange count") {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/shuffle_budget.txt"), "UTF-8")
    val budget: Map[String, Int] =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(k, n) = l.trim.split("\\s+"); k -> n.toInt
      }.toMap finally src.close()

    val keys = SparkEntry.queries.keySet.filterNot(Probe.constructionJobKeys)
    val unpinned = keys -- budget.keySet
    val stale = budget.keySet -- keys
    assert(unpinned.isEmpty,
      s"keys missing from shuffle_budget.txt (pin them): ${unpinned.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"stale entries in shuffle_budget.txt: ${stale.toSeq.sorted.mkString(", ")}")

    val over = Probe.shuffleCounts(s, d, keys.toSeq.sorted).collect {
      case (name, n) if n > budget(name) => s"$name ($n exchanges, budget ${budget(name)})"
    }
    assert(over.isEmpty,
      s"plans exceeding their shuffle budget:\n  ${over.mkString("\n  ")}")
  }
}
