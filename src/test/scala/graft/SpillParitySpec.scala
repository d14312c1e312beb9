package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spill-path parity (r14): forcing the real plan families through the
  * disk-spill path must not change a single byte of output.
  *
  * Motivation: the r14 tallied scaling sweep (SCALING.md "the spill
  * regime, measured") found the published ×1000 window numbers carry
  * ~6 GB of spill per run — on one node the deep decade runs IN the
  * spill regime by default, so the spill path is not an edge case, it is
  * the steady state of every at-scale execution, and its correctness
  * deserves a pin rather than an assumption. The starved run executes on
  * an isolated child session (`newSession` — the Streaming.sized conf
  * discipline) with the WindowExec buffer thresholds dropped so every
  * window group buffer round-trips through spill files even at sf0.01;
  * Bench's TaskTally asserts spill bytes actually moved (non-vacuity — a
  * threshold rename in a Spark upgrade would otherwise turn this suite
  * into a silent no-op), and the result fingerprint must equal the
  * untouched session's in-memory run bit for bit.
  *
  * Keys chosen to span the spilling window shapes the sweep measured:
  * the 3-window session chain (q115, the ×1000 spiller), its 1-window
  * sibling (q32), and the prefix-scan family (q210, whose cumulative
  * windows ride the same buffer).
  */
class SpillParitySpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val d = TestSpark.sf001

  private def fp(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  // Spill granularity and task layout are sized per key to the family's
  // window-group rows, because the spill READERS cost heap that nothing
  // releases early: every replay of a spill file opens an
  // UnsafeSorterSpillReader whose read-ahead stream holds two 1 MiB heap
  // buffers, and in Spark 4.1 each reader registers a task-completion
  // listener, so those buffers stay reachable until the TASK ends. The
  // unified memory manager does not track them either (cached blocks are
  // never evicted to make room). Retained heap per task is therefore about
  //   (window rows in the task / spill threshold) × frames × 2 MiB,
  // and a starved run that packs many spilling groups into one task OOMs
  // the shared test JVM — which stops the shared SparkContext and ends
  // the forked run for every later suite.
  //
  // q115/q32 (per-user chains): at sf0.01 events holds 10,000 rows over
  // 150 users, 66.5 rows per user at the median and 86 at most. The 2/16
  // thresholds make every user group spill (about 4 files each). Since
  // the r15 events layout (Tables.spreadNarrow sizes the cache spread at
  // rows / 25k) events is ONE cached partition at this SF, and AQE then
  // coalesces the window shuffle into ONE task holding all 150 groups —
  // that task OOMs even alone at a 2 GiB heap. The starved session
  // therefore turns coalescing off and shuffles to 64 partitions, so each
  // task holds only a few user groups. Both keys' outputs are exact
  // integers and strings, so the partition count cannot change their
  // bytes.
  //
  // q210 (prefix-scan family): groupedPrefixSum's (rf, block) windows over
  // the y support are ~5,000 rows each at sf0.01 (about 20k distinct
  // revenues per return flag over 4 blocks). Its shuffle partitions stay
  // untouched — the block decomposition follows them, so the starved plan
  // is the plain plan apart from the buffer thresholds — and the spill
  // threshold is sized to those blocks: 1024 rows writes about 5 files
  // per group (128 wrote about 40 and OOMed alone at 2 GiB). The groups
  // that spill are the same as at 128: the x-support blocks (~12 rows)
  // and the block-offset windows (≤ 4 rows) stay in memory either way.
  //
  // (The generic sorter force-spill knob is NOT usable here:
  // spark.shuffle.spill.numElementsForceSpillThreshold is a core conf,
  // CANNOT_MODIFY_CONFIG from a session.)
  private val perUserWindowStarve = Seq(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.windowExec.buffer.spill.threshold" -> "16",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "64")
  private val starveConfs: Map[String, Seq[(String, String)]] = Map(
    "q115_session_paths" -> perUserWindowStarve,
    "q32_window_sessionize" -> perUserWindowStarve,
    "q210_spearman_corr" -> Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
      "spark.sql.windowExec.buffer.spill.threshold" -> "1024"))
  // Not covered here: the sort-merge-join match-group buffer
  // (spark.sql.sortMergeJoinExec.buffer.*). It is the SAME
  // ExternalAppendOnlyUnsafeRowArray the window tests drive through
  // spill, and the fat-match-group candidates (q76's capped shingle
  // buckets) never re-execute their join in a starved child session —
  // the pair grain rides the context-shared memo cache, so the starved
  // run reads InMemoryRelation and tallies zero spill (verified: the
  // non-vacuity assert fails). Driving it would need a cache release
  // mid-suite, which evicts every other suite's shared entries for one
  // duplicate code path.

  for ((key, confs) <- starveConfs) {
    test(s"$key: byte-identical results when every window buffer and sort spills") {
      val plain = fp(SparkEntry.queries(key)(s, d))
      val starved = s.newSession()
      confs.foreach { case (k, v) => starved.conf.set(k, v) }
      val tally = new Bench.TaskTally
      s.sparkContext.addSparkListener(tally)
      try {
        val got = fp(SparkEntry.queries(key)(starved, d))
        Bench.drainTallies(tally)
        assert(tally.spillBytes.get > 0,
          s"$key: starved run did not actually spill — parity check vacuous " +
            "(did a Spark upgrade rename the spill-threshold confs?)")
        assert(got == plain,
          s"$key: spill path produced different results than the in-memory path")
      } finally s.sparkContext.removeSparkListener(tally)
    }
  }
}
