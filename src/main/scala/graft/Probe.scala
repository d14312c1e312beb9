package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev probes over one session, one mode per run:
  *
  * `runMain graft.Probe <plan|metrics|profile|budget> <sfDir> <keys|ALL>`
  *
  * Keys are comma-separated; a bare prefix like `q210` matches its full
  * key, and `ALL` selects the whole inventory.
  *  - `plan`: the formatted physical plan of each key; with `ALL`, one
  *    `AUDIT <key> <op>:<n> ...` line per key from [[census]].
  *  - `metrics`: runs each key twice under the bench action and dumps the
  *    final (post-AQE) physical plan of the second run with each
  *    operator's runtime metrics — the SQL-tab per-operator view in text
  *    form. The walked plan is the frame `Bench.force` executes.
  *  - `profile`: per key, the min wall of 3 built-and-forced runs plus,
  *    for the last (steady) run, `build_jobs` (the Spark jobs run while
  *    the frame is built) and the forced run's jobs, stages, tasks and
  *    task-seconds — run 1 absorbs memo builds exactly as in Bench. One
  *    JSON line per key, slowest first.
  *  - `budget`: each key's static-plan exchange count ([[shuffleCounts]]),
  *    as `<key> <count>` lines; `ALL` leaves out [[constructionJobKeys]],
  *    so at sf0.001 its output is `src/test/resources/shuffle_budget.txt`.
  */
object Probe {

  /** Keys whose construction runs Spark jobs (ALS fits, fixpoint loops,
    * power iterations, model steps). The plan sweeps and the shuffle
    * budget skip them for test time; each has its own plan or
    * quantitative coverage. */
  val constructionJobKeys: Set[String] = Set("q65_als_recommend", "q66_als_rmse",
    "q113_item_pagerank", "q252_pca_power", "q264_logreg_step")

  /** The plan operators the full-inventory audit counts. */
  val interesting: Seq[String] = Seq("BroadcastNestedLoopJoin",
    "CartesianProduct", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastExchange", "Exchange",
    "TakeOrderedAndProject", "Window")

  /** Operator census of one query's executed plan: Left(error message) if
    * plan construction threw, Right(operator -> occurrence count, zero
    * counts omitted) otherwise. Shared by the `plan … ALL` audit and
    * PlanAuditSpec (r14) — the suite form of the audit, so a cartesian
    * regression (which adds NO exchange and so slips ShuffleCountSpec's
    * budget) fails CI rather than waiting for someone to re-run the
    * manual audit. */
  def census(spark: SparkSession, sfDir: String, key: String,
      fn: (SparkSession, String) => DataFrame)
      : Either[String, Map[String, Int]] =
    try {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      Right(interesting.map(op => op -> s"\\b$op".r.findAllIn(plan).length)
        .filter(_._2 > 0).toMap)
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }

  /** ShuffleExchange count of each key's static plan (AQE off, restored
    * afterwards), with the session's memos released before and after the
    * sweep. `plan.collect` does not descend into an InMemoryTableScan's
    * cached plan, so only exchanges above any cache boundary count — the
    * measure ShuffleCountSpec pins. */
  def shuffleCounts(spark: SparkSession, sfDir: String,
      keys: Seq[String]): Seq[(String, Int)] = {
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(aqe)
    // a cached memo keeps the physical plan of the conf that first built
    // it: memos left by earlier AQE-on work would make these counts
    // depend on run order, and the AQE-off ones built here must not leak
    Tables.release(spark)
    spark.conf.set(aqe, "false")
    try keys.map { k =>
      k -> SparkEntry.queries(k)(spark, sfDir).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
    } finally {
      spark.conf.set(aqe, prior)
      Tables.release(spark)
    }
  }

  private def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val resolved = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q: QueryStageExec => q.plan
      case other => other
    }
    if (!(resolved eq p)) { walk(resolved, depth, out); return }
    val metrics = p.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }
      .mkString(" ")
    out.append("  " * depth).append(p.nodeName)
    if (metrics.nonEmpty) out.append("  [").append(metrics).append("]")
    out.append('\n')
    p.children.foreach(walk(_, depth + 1, out))
    // follow broadcast/shuffle reuse + subqueries so their cost is visible
    p.subqueries.foreach(walk(_, depth + 1, out))
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, keysArg) = args
    val all = keysArg == "ALL"
    val keys =
      if (all) SparkEntry.queries.keys.toSeq.sorted
      else keysArg.split(",").toSeq.map { p =>
        SparkEntry.queries.keys.find(k => k == p || k.startsWith(p + "_"))
          .getOrElse(sys.error(s"unknown query key: $p"))
      }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), scratch = true)
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "plan" if all =>
        keys.foreach { k =>
          val ops = census(spark, sfDir, k, SparkEntry.queries(k)) match {
            case Left(err) => Seq(s"ERROR $err")
            case Right(counts) =>
              interesting.collect { case op if counts.contains(op) => s"$op:${counts(op)}" }
          }
          println(s"AUDIT $k ${ops.mkString(" ")}")
        }
      case "plan" =>
        keys.foreach { k =>
          println(s"\n===================== $k =====================")
          SparkEntry.queries(k)(spark, sfDir).explain("formatted")
        }
      case "metrics" =>
        keys.foreach { k =>
          val fn = SparkEntry.queries(k)
          Bench.force(fn(spark, sfDir)) // run 1 fills the memo caches
          val df = Bench.forced(fn(spark, sfDir))
          val t0 = System.nanoTime()
          // head() is what Bench.force runs, but it plans a separate
          // limit-1 execution whose metrics this frame would not show
          df.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val sb = new StringBuilder
          walk(df.queryExecution.executedPlan, 0, sb)
          println(s"===== $k steady_wall=${Bench.f3(wall)}s =====")
          println(sb.toString)
        }
      case "profile" =>
        val rows = keys.map { k =>
          val fn = SparkEntry.queries(k)
          spark.sparkContext.setJobDescription(s"profile:$k")
          val runs = (1 to 3).map { _ =>
            // the build and the forced run each under their own tally;
            // the drain between them stays out of the wall
            val build, tally = new Bench.TaskTally
            val (df, buildWall) = Bench.tallied(spark, build)(fn(spark, sfDir))
            val (run, runWall) = df.fold(e => (scala.util.Failure(e), 0.0),
              f => Bench.tallied(spark, tally)(Bench.force(f)))
            run.failed.foreach(e => System.err.println(s"[profile] $k failed: $e"))
            (buildWall + runWall, build, tally)
          }
          (k, runs.map(_._1).min, runs.last._2, runs.last._3)
        }
        rows.sortBy(-_._2).foreach { case (k, wall, b, t) =>
          println(s"""{"metric":"profile","key":"$k","wall_sec":${Bench.f3(wall)},""" +
            s""""build_jobs":${b.jobs.get},""" +
            s""""jobs":${t.jobs.get},"stages":${t.stages.get},"tasks":${t.tasks.get},""" +
            s""""task_sec":${Bench.f3(t.runMs.get / 1e3)}}""")
        }
      case "budget" =>
        val budgeted = if (all) keys.filterNot(constructionJobKeys) else keys
        shuffleCounts(spark, sfDir, budgeted).foreach { case (k, n) => println(s"$k $n") }
      case other => sys.error(s"unknown probe mode: $other (plan|metrics|profile|budget)")
    }
    spark.stop()
  }
}
