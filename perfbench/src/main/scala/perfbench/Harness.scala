package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry, Tables}

/** The JVM half of the benchmark (perfbench/run.py is the other half).
  * It drives the program only through its public entry points:
  * `SparkEntry.queries(key)(spark, dataDir)` builds a key's frame,
  * `Bench.force` runs it, and `Tables.*` / `Tables.release` build and
  * drop the shared memos. One thread issues the keys one after another
  * (a closed loop with one client).
  *
  * Modes:
  *  - `run`: set up, time whole passes over one workload's keys for the
  *    requested seconds, then write each key's output for the checker.
  *  - `census`: run every key of the inventory cold, then warm under the
  *    trace, one JSON line per key (the source of the workload lists).
  */
object Harness {

  /** Spark runs at local[Cores] with as many shuffle partitions. */
  val Cores = 4

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def toJson(v: Any): String = json.writeValueAsString(v)

  /** A workload: a fixed key list, and whether the memos are dropped
    * before every pass (so each pass rebuilds the memos its keys read). */
  final case class Workload(keys: Seq[String], releaseEachPass: Boolean)

  val workloads: Map[String, Workload] = Map(
    // Census: busy 12-18% of wall, 3 Spark jobs run while the frame is
    // built, 4-6 stage rounds each. q03 reads the events memo, so the
    // workload holds one memo as its users would.
    "stage_bound" -> Workload(Seq(
      "q19_tpch_q3_shipping", "q97_tpch_q18_bigorders", "q196_tpch_q20_excess_supply",
      "q205_hhi_concentration", "q03_scan_events_ns"),
      releaseEachPass = false),
    // Census: first run in a session 2-3 s slower than the steady run,
    // which is the memo build (the decoded events, the document words).
    "memo_rebuild" -> Workload(Seq(
      "q03_scan_events_ns", "q161_langid_confusion"),
      releaseEachPass = true))

  /** Public memo builders of the `Tables` layer, each timed with a count. */
  val memoBuilders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.events, Tables.ratings, Tables.cappedRatings, Tables.contribRatings,
    Tables.pairSupport, Tables.itemDots, Tables.biasScored, Tables.predSupport)

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = new java.io.File(opts("data")).getAbsolutePath
    val work = new java.io.File(opts("work")).getAbsolutePath
    args.headOption match {
      case Some("run") => run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", dataDir, work)
      case Some("census") => census(dataDir, work)
      case other => sys.error(s"unknown mode: $other")
    }
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Block-manager storage held by cached RDDs (the memos), in MiB. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def memoViews(spark: SparkSession): Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_memo_")).toSet

  /** One key's outcome in one pass; the layer fields are filled only in a
    * traced pass. */
  final class KeyRun(val key: String, val pass: Int, val traced: Boolean) {
    var wall, build = 0.0
    var frameAnalysis = 0.0 // the built frame's own analysis, inside `build`
    var ok = true
    var error = ""
    var execMs = (0L, 0L) // wall-clock window of Bench.force, for plan attribution
    var memosBuilt = 0
    val layer = mutable.LinkedHashMap.empty[String, Double]
  }

  /** Build and force one key. Under a trace, the build and the execute
    * phase each run under their own job group. */
  def runKey(spark: SparkSession, dataDir: String, key: String, pass: Int,
      trace: Option[Trace]): KeyRun = {
    val r = new KeyRun(key, pass, trace.isDefined)
    val sc = spark.sparkContext
    val before = if (trace.isDefined) memoViews(spark) else Set.empty[String]
    val t0 = System.nanoTime()
    val b0 = System.currentTimeMillis()
    try {
      trace.foreach(_ => sc.setJobGroup(s"$key/$pass/build", s"$key build"))
      val df = SparkEntry.queries(key)(spark, dataDir)
      r.build = secs(t0)
      // Spark analyses a frame when it is built; a frame made in an earlier
      // pass (a memo returned as is) was analysed then, not now.
      r.frameAnalysis = df.queryExecution.tracker.phases.get("analysis")
        .filter(_.startTimeMs >= b0).map(_.durationMs / 1e3).getOrElse(0.0)
      trace.foreach(_ => sc.setJobGroup(s"$key/$pass/execute", s"$key execute"))
      val e0 = System.currentTimeMillis()
      Bench.force(df)
      r.execMs = (e0, System.currentTimeMillis())
    } catch {
      case e: Throwable =>
        r.ok = false
        r.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $key failed: ${r.error}")
    } finally {
      r.wall = secs(t0)
      if (trace.isDefined) sc.clearJobGroup()
    }
    if (trace.isDefined) r.memosBuilt = (memoViews(spark) -- before).size
    r
  }

  /** Fill a traced key's layer split from the drained listener. */
  def split(r: KeyRun, t: Trace): Unit = {
    val b = t.tally(s"${r.key}/${r.pass}/build")
    val e = t.tally(s"${r.key}/${r.pass}/execute")
    val ps = t.plansBetween(r.execMs._1, r.execMs._2)
    val analysis = ps.map(_.analysisMs).sum / 1e3
    val optimize = ps.map(_.optimizeMs).sum / 1e3
    val physical = ps.map(_.planningMs).sum / 1e3
    val execWall = math.max(0.0, r.wall - r.build - analysis - optimize - physical)
    val taskS = e.taskMs.get / 1e3
    val mb = 1048576.0
    r.layer ++= Seq(
      "operators.build_s" -> (r.build - r.frameAnalysis),
      "operators.build_jobs" -> b.jobs.get.toDouble,
      "operators.build_stages" -> b.stages.get.toDouble,
      "plans.analysis_s" -> (r.frameAnalysis + analysis),
      "plans.optimize_s" -> optimize,
      "plans.physical_s" -> physical,
      "exec.wall_s" -> execWall,
      "exec.jobs" -> e.jobs.get.toDouble,
      "exec.stages" -> e.stages.get.toDouble,
      "exec.tasks" -> e.tasks.get.toDouble,
      "exec.idle_core_s" -> (Cores * execWall - taskS),
      "exec.task_s" -> taskS,
      "exec.gc_s" -> e.gcMs.get / 1e3,
      "exec.shuffle_write_mb" -> e.shuffleWrite.get / mb,
      "exec.shuffle_read_mb" -> e.shuffleRead.get / mb,
      "exec.shuffle_write_s" -> e.shuffleWriteNs.get / 1e9,
      "exec.spill_mb" -> e.spill.get / mb,
      "tables.memos_built" -> r.memosBuilt.toDouble)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
      dataDir: String, work: String): Unit = {
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload: $name"))
    val unknown = wl.keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    // The seed sets the key order; pass p starts at the order's p-th key.
    // A key's time depends on what ran just before it (most of all, the
    // first key after Tables.release), so each key takes each position in
    // turn instead of keeping, by seed, the slowest one in every pass.
    val base = new scala.util.Random(seed).shuffle(wl.keys)
    def order(p: Int): Seq[String] = {
      val r = Math.floorMod(p, base.size)
      base.drop(r) ++ base.take(r)
    }

    val t0 = System.nanoTime()
    val spark = session(work)
    try {
      val sessionS = secs(t0)
      // Set-up: a cold pass over the keys in the fresh JVM, which builds every
      // memo the keys read and pays the JVM's one-time start (class loading,
      // JIT, codegen compiles), then three warm-up passes. With one, the
      // timed passes still fell by a median 6% a pass (no run of ten rising)
      // and suite_s moved with how far each JVM had got; with three they
      // are flat.
      val setupRun = (-4 to -1).flatMap { p =>
        if (wl.releaseEachPass) Tables.release(spark)
        order(p).map(k => runKey(spark, dataDir, k, p, None))
      }
      val setupS = secs(t0)
      System.err.println(f"[perfbench] session $sessionS%.2f s, set-up $setupS%.2f s: " +
        setupRun.map(r => f"${r.key} ${r.wall}%.2f").mkString(", "))
      val out = timedPasses(spark, name, wl, order, seed, seconds, traced, dataDir, work)
      out("session_s") = sessionS
      out("setup_s") = setupS

      // Output checks, outside the timing: each key's result as one parquet
      // file, plus the DuckDB twin SQL of the keys that have one. A key whose
      // output cannot be made is one more failed execution (and fails its
      // check, since it has no output).
      val outDir = s"$work/out-$name"
      val writeFailed = wl.keys.filterNot { k =>
        try {
          SparkEntry.queries(k)(spark, dataDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$k")
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $k output failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      }
      out("attempted") = out("attempted").asInstanceOf[Int] + wl.keys.size
      out("failed") = out("failed").asInstanceOf[Int] + writeFailed.size
      out("failed_keys") = (out("failed_keys").asInstanceOf[Seq[String]] ++ writeFailed).distinct.sorted
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        toJson(SparkEntry.oracleSql.filter { case (k, _) => wl.keys.contains(k) }))
      Files.writeString(Paths.get(s"$work/result-$name.json"), toJson(out))
    } finally spark.stop()
  }

  /** Whole timed passes over the workload until `seconds` are spent; the
    * run's record, without the set-up and output fields. */
  def timedPasses(spark: SparkSession, name: String, wl: Workload, order: Int => Seq[String],
      seed: Long, seconds: Double, traced: Boolean, dataDir: String,
      work: String): mutable.LinkedHashMap[String, Any] = {
    // Under a trace, passes run untraced, traced, traced, untraced (and
    // again), so the overhead is measured in the same JVM and a warm-up
    // trend weighs on both sides alike; the per-layer figures come from the
    // traced passes.
    val trace = new Trace
    val runs = mutable.ArrayBuffer.empty[KeyRun]
    val passCache = mutable.ArrayBuffer.empty[Double]
    val releasedCache = mutable.ArrayBuffer.empty[Double] // right after each Tables.release
    val w0 = System.nanoTime()
    var pass = 0
    val minPasses = if (traced) 4 else 3
    // After Tables.release the first key of a pass rebuilds the memos the
    // others then read, so a pass's time depends on which key goes first:
    // such a workload runs whole rotations, each key first equally often.
    val round = if (wl.releaseEachPass) wl.keys.size else 1
    while (pass < minPasses || secs(w0) < seconds || (traced && pass % 4 != 0) || pass % round != 0) {
      val tracedPass = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (wl.releaseEachPass) {
        Tables.release(spark)
        releasedCache += cacheMb(spark)
      }
      if (tracedPass) {
        spark.sparkContext.addSparkListener(trace)
        spark.listenerManager.register(trace)
      }
      val keysRun = order(pass).map(k => runKey(spark, dataDir, k, pass, if (tracedPass) Some(trace) else None))
      if (tracedPass) {
        trace.drain()
        spark.sparkContext.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
        keysRun.foreach(split(_, trace))
      }
      passCache += cacheMb(spark)
      runs ++= keysRun
      pass += 1
    }
    val windowS = secs(w0)

    def suite(rs: Seq[KeyRun]): Double =
      rs.groupBy(_.key).values.map(v => median(v.map(_.wall))).sum
    val timed = if (traced) runs.filterNot(_.traced) else runs
    val suiteS = suite(timed.toSeq)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> Cores,
      "attempted" -> runs.size, "failed" -> runs.count(!_.ok),
      "failed_keys" -> runs.filterNot(_.ok).map(_.key).distinct.sorted.toSeq,
      "passes" -> pass, "window_s" -> windowS,
      "suite_s" -> suiteS, "cache_mb" -> cacheMb(spark), "pass_cache_mb" -> passCache.toSeq,
      "released_cache_mb" -> releasedCache.toSeq,
      "pass_s" -> runs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.wall).sum),
      "key_median_s" -> timed.groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> median(v.map(_.wall).toSeq) }.to(mutable.LinkedHashMap))

    if (traced) {
      val tracedRuns = runs.filter(_.traced).toSeq
      val recs = tracedRuns.map { r =>
        toJson(mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
          "pass" -> r.pass, "key" -> r.key, "ok" -> r.ok, "error" -> r.error,
          "wall_s" -> r.wall) ++ r.layer)
      }
      Files.writeString(Paths.get(s"$work/records-$name-$seed.jsonl"), recs.mkString("", "\n", "\n"))
      // Per-pass totals, then the median over the traced passes.
      val perPass = tracedRuns.groupBy(_.pass).values.map { rs =>
        rs.head.layer.keys.map(m => m -> rs.map(_.layer(m)).sum).toMap
      }.toSeq
      val layers = mutable.LinkedHashMap.empty[String, Any]
      tracedRuns.head.layer.keys.foreach(m => layers(m) = median(perPass.map(_(m))))
      // The Tables layer on its own: drop every memo, then build each
      // public memo with a count, three times; median of the totals.
      val builds = (1 to 3).map { _ =>
        Tables.release(spark)
        val b0 = System.nanoTime()
        memoBuilders.foreach(f => f(spark, dataDir).count())
        (secs(b0), cacheMb(spark))
      }
      layers("tables.build_s") = median(builds.map(_._1))
      layers("tables.memo_mb") = median(builds.map(_._2))
      val tracedSuite = suite(tracedRuns)
      layers("trace.suite_s") = tracedSuite
      layers("trace.overhead_s") = tracedSuite - suiteS
      layers("trace.count_repeats") = {
        val counts = Seq("operators.build_jobs", "operators.build_stages", "exec.jobs",
          "exec.stages", "tables.memos_built")
        if (counts.forall(m => perPass.map(_(m)).distinct.size == 1)) 1.0 else 0.0
      }
      out("layers") = layers
      out("layer_passes") = perPass.map(p => p.toSeq.sortBy(_._1).to(mutable.LinkedHashMap))
    }
    out
  }

  /** Every key cold (first run in the session), then warm under the trace. */
  def census(dataDir: String, work: String): Unit = {
    val spark = session(work)
    try {
      val keys = SparkEntry.queries.keys.toSeq.sorted
      val cold = keys.map(k => k -> runKey(spark, dataDir, k, 0, None).wall).toMap
      val trace = new Trace
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
      val warm = keys.map(k => runKey(spark, dataDir, k, 1, Some(trace)))
      trace.drain()
      val oracle = SparkEntry.oracleSql
      val lines = warm.map { r =>
        split(r, trace)
        val busy = r.layer("exec.task_s") / (Cores * math.max(r.wall, 1e-9))
        toJson(mutable.LinkedHashMap[String, Any]("key" -> r.key, "ok" -> r.ok,
          "oracle" -> oracle.contains(r.key), "cold_s" -> cold(r.key), "warm_s" -> r.wall,
          "busy" -> busy) ++ r.layer)
      }
      Files.writeString(Paths.get(s"$work/census.jsonl"), lines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}
