package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // ---------------------------------------------------------------------
  // Outlier self-diagnosis (r13). Motivation: BENCH_r12 read q137 at
  // 25.46 s min-of-2 (18.2x its committed baseline) on the driver host
  // while two independent same-tree, same-config local runs — including a
  // full double-pass suite — read 1.44–1.67 s. The scored artifact cannot
  // be re-run on the driver host, so the artifact itself must carry the
  // host-vs-code diagnosis: any key whose steady (min-of-2) reading
  // exceeds OUTLIER_BAND x its committed per-key baseline gets a THIRD
  // pass instrumented with a task-metrics listener, and a compact
  // per-key line (third-pass wall vs summed executor task-time, GC ms,
  // spill bytes) lands inside the archived tail. BenchDiagSpec pins the
  // selection, classification and diagnosis paths.
  // ---------------------------------------------------------------------

  /** Parse the committed per-key baseline (`<key> <seconds>` lines,
    * '#' comments). Missing file → empty map (diagnosis degrades to a
    * "no baseline" note, never an error — the bench must still run on a
    * checkout without test resources). */
  def parseBaseline(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val src = scala.io.Source.fromFile(f)
    try src.getLines()
      .map(_.split("#")(0).trim).filter(_.nonEmpty)
      .flatMap { l =>
        l.split("\\s+") match {
          case Array(k, v) => scala.util.Try(k -> v.toDouble).toOption
          case _ => None
        }
      }.toMap
    finally src.close()
  }

  /** Keys whose steady reading exceeds `band` x their committed baseline
    * AND an absolute floor (sub-`floorSec` readings are fixed per-query
    * overhead noise even at a large ratio). Returns (key, steadySec,
    * baseSec) sorted worst-ratio first. Keys without a baseline entry
    * (a newly added key mid-round) are skipped — there is nothing to
    * diagnose against. */
  def outlierKeys(steady: Seq[(String, Double, Boolean)],
      base: Map[String, Double], band: Double,
      floorSec: Double): Seq[(String, Double, Double)] =
    steady.collect {
      case (k, t, _) if base.contains(k) && t > band * base(k) && t >= floorSec =>
        (k, t, base(k))
    }.sortBy { case (_, t, b) => -(t / b) }

  /** Classify a diagnosed key from its third-pass evidence.
    *  - "host": the third pass does NOT reproduce the slow reading (wall
    *    back under max(2x baseline, half the flagged steady)) — the
    *    min-of-2 outlier was external to the code (host contention, the
    *    r12 q137 syndrome).
    *  - "gc": reproduces with >30% of wall in JVM GC — memory pressure.
    *  - "spill": reproduces with shuffle/agg spill — partitions no longer
    *    fit, size knobs or data shape changed.
    *  - "code": reproduces cleanly — the plan itself got slower; read the
    *    explain before anything else. */
  def classify(p3Wall: Double, baseSec: Double, steadySec: Double,
      gcMs: Long, spillBytes: Long): String =
    if (p3Wall <= math.max(2 * baseSec, steadySec / 2)) "host"
    else if (gcMs > 0.3 * p3Wall * 1000) "gc"
    else if (spillBytes > 0) "spill"
    else "code"

  /** Sums task metrics across every task that ends while registered, and
    * counts the jobs, stages and tasks that run meanwhile. Listener-bus
    * delivery is asynchronous — [[diagnose]] polls via [[drainTallies]]
    * until the tallies go quiet before reading them. */
  private[graft] class TaskTally extends org.apache.spark.scheduler.SparkListener {
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks.toLong)
    }
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Wait for the async listener bus to finish delivering task-end events:
    * poll the tallies until they are UNCHANGED for `stableForMs` (capped at
    * `maxWaitMs`). A single fixed sleep — the r13 shape — can read the
    * tallies early on a loaded/contended host, which is precisely the
    * condition being diagnosed: missed late task-end events undercount
    * gc_ms/spill and skew a reproduced slowdown's verdict from gc/spill
    * toward code (r13 ADVICE). Quiet-period polling is load-adaptive and
    * uses only public API (listenerBus.waitUntilEmpty is private[spark]). */
  private[graft] def drainTallies(t: TaskTally, maxWaitMs: Long = 5000,
      stableForMs: Long = 200, pollMs: Long = 50): Unit = {
    def snap = (t.runMs.get, t.gcMs.get, t.spillBytes.get, t.stages.get)
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var last = snap
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        System.nanoTime() - stableSince < stableForMs * 1000000L) {
      Thread.sleep(pollMs)
      val cur = snap
      if (cur != last) { last = cur; stableSince = System.nanoTime() }
    }
  }

  /** Runs `body` with `tally` registered: its outcome and its wall
    * seconds. The clock stops before [[drainTallies]], so the drain only
    * completes the tallies and never adds to the wall; the listener is
    * removed however `body` ends. */
  private[graft] def tallied[A](spark: SparkSession, tally: TaskTally)(
      body: => A): (scala.util.Try[A], Double) = {
    spark.sparkContext.addSparkListener(tally)
    try {
      val t0 = System.nanoTime()
      val run = scala.util.Try(body)
      val wall = (System.nanoTime() - t0) / 1e9
      drainTallies(tally)
      (run, wall)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** Third instrumented pass of one flagged key: wall time, summed
    * executor task-time, GC ms and spill bytes, plus the [[classify]]
    * verdict, as one compact JSON object string. A wall far above the
    * summed task-time/cores means the time went to scheduling stalls,
    * not compute — visible directly in the emitted pair. */
  def diagnose(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, baseSec: Double, steadySec: Double): String = {
    val tally = new TaskTally
    val (run, wall) = tallied(spark, tally)(force(fn(spark, sfDir)))
    val verdict =
      if (run.isFailure) "error"
      else classify(wall, baseSec, steadySec, tally.gcMs.get, tally.spillBytes.get)
    s""""$name":{"steady":${f3(steadySec)},"base":${f3(baseSec)},""" +
      s""""p3_wall":${f3(wall)},"task_sec":${f3(tally.runMs.get / 1e3)},""" +
      s""""gc_ms":${tally.gcMs.get},"spill_mb":${tally.spillBytes.get / (1024 * 1024)},""" +
      s""""verdict":"$verdict"}"""
  }

  /** The timed benchmark action: FULL-WIDTH materialization, not count().
    * A bare count() lets Catalyst prune every column no downstream
    * operator consumes — terminal projections vanish entirely (caught
    * r10: q103's sign-projection HOF benched at 0.3 s while computing
    * the actual bucket column cost ~10 s at sf0.1). Hashing every output
    * column forces each query's complete result while keeping the
    * action's own cost trivial (one codegen'd xxhash64 per row, XOR
    * folds — a long sum overflows under Spark 4's default ANSI mode).
    * The terminal display orderBy is still optimizer-eliminated under
    * the aggregation, exactly as under count(). MapType columns hash via
    * to_json (hash() on maps is disallowed). Shared by Bench, the Scale
    * probe and ScalingSpec so every timing in the repo measures the same
    * thing. Map detection is RECURSIVE (a map nested in a struct/array
    * also breaks hash()), and a zero-column frame falls back to count()
    * (cols.reduce would throw; with no columns there is nothing for
    * count() to prune, so it is an honest force there). */
  def force(df: org.apache.spark.sql.DataFrame): Unit = {
    if (df.schema.isEmpty) df.count() else forced(df).head()
    ()
  }

  /** The one-row frame [[force]] executes for a frame with at least one
    * column; Probe's `metrics` mode walks its executed plan. */
  private[graft] def forced(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val cols = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) xxhash64(to_json(col(f.name)))
      else xxhash64(col(f.name))
    }
    df.select(cols.reduce(_ bitwiseXOR _).as("__h")).agg(expr("bit_xor(__h)"))
  }

  /** `v` at 3 decimals; Locale.ROOT: '.' decimal point regardless of host
    * locale. */
  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Runs each labelled warm-up step in order; a step that throws is
    * reported on stderr as `[<tag>] warm-up <label> failed: <cause>` and
    * the remaining steps still run. */
  private[graft] def warmUp(tag: String, steps: Seq[(String, () => Any)]): Unit =
    for ((label, step) <- steps)
      try step()
      catch { case e: Throwable =>
        System.err.println(s"[$tag] warm-up $label failed: $e") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), scratch = true)
    // Warm the JVM/codegen/catalog once on the smoke SF so the first timed
    // query doesn't absorb session cold-start (BASELINE.md separates cold
    // vs warm: 3.5 s vs 0.38 s for the same query), and fill the shared
    // input caches (events ns-decode, ratings, capped ratings) so their
    // one-time materialization cost doesn't land on whichever query the
    // map happens to iterate first. Each step is independently
    // best-effort: a failure in one must not skip the others (that would
    // push a cache build into whichever family query the timed loop
    // reaches first).
    def query(key: String): () => Any = () => SparkEntry.queries(key)(spark, sfDir).count()
    warmUp("bench", Seq(
      "entry" -> (() => SparkEntry.entry(spark).count()),
      "shared inputs" -> { () =>
        Tables.events(spark, sfDir).count()
        Tables.ratings(spark, sfDir).count()
        Tables.cappedRatings(spark, sfDir).count()
        Tables.contribRatings(spark, sfDir).count()
      },
      // bias-predictor memo — shared by q62/q136 (r6: q136 absorbed it)
      "biasScored" -> (() => Tables.biasScored(spark, sfDir).count()),
      // pair-support memo — shared by the co-occurrence family (q107/q133/q134)
      "pairSupport" -> (() => Tables.pairSupport(spark, sfDir).count()),
      // item-pair dots memo — shared by the item-similarity family (q63/q88)
      "itemDots" -> (() => Tables.itemDots(spark, sfDir).count()),
      // string-shingle grain — fills shingles5, used by q84/q92/q93/q106
      "q84_doc_fingerprint" -> query("q84_doc_fingerprint"),
      // compact shingle grain + pair memo — fills shingles5h and shpairs50,
      // shared by the resemblance/containment/verify keys (q76/q129/q138/q270)
      "q76_dedup_ngram_jaccard" -> query("q76_dedup_ngram_jaccard"),
      // word-frequency family — fills words1, used by q49/q68/q69/q78/q99
      "q69_heavy_hitters" -> query("q69_heavy_hitters"),
      // component-labels family — fills comp20, used by q93/q101
      "q93_dedup_components" -> query("q93_dedup_components")) ++
      // r10: the remaining session memos, profiled as the largest
      // run1-vs-steady deltas (local sf0.1: q70 +1.8 s, q149 +1.7 s,
      // q138 +1.6 s, q210 +1.0 s, q233 +0.9 s, q114/q231 +0.5 s each) —
      // built here so run 1 measures each query's plan, not whichever
      // memo it touches first. What remains in run 1 after this is
      // per-plan JIT/codegen warm-up, which no warm-up short of running
      // every query can move.
      Seq(
        "q149_weighted_median",    // wmedGrain
        "q210_spearman_corr",      // spearmanSup_x / spearmanSup_y
        "q70_dedup_near_minhash",  // q70feats (MinHashLSH features)
        "q138_dedup_banded_verify",// simhash48 (shared with q86)
        "q231_kendall_tau",        // kendallCells (shared with q244)
        "q233_open_orders",        // openDeltas
        "q114_rfm_segments")       // rfm114
        .map(k => k -> query(k)))
    // A failed query must be VISIBLE in the output line, not silently timed:
    // it keeps its wall time (so the total stays honest) and lands in
    // "failed" so a red query can't hide in a green-looking bench line.
    // sorted order: map-hash iteration order shifts when keys are added,
    // which silently reshuffles which query absorbs which cache warm-up —
    // a stable order keeps per-query times comparable across rounds
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
    def runOnce(): Seq[(String, Double, Boolean)] = suite.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // TWO full passes in one JVM; the reported per-query time is the MIN of
    // the two (labelled steady-state). Rationale (r6 verdict): the driver's
    // single pass showed a ~50 s contiguous slowdown window (host
    // contention / GC) that r5→r6 comparison could not distinguish from a
    // real regression — min-of-two suppresses any transient that doesn't
    // reproduce in both passes, while run 1 is still printed in full so
    // one-time cache-build costs remain visible.
    // Block-manager storage snapshots across the session (r9 verdict watch
    // item: q113's driver reading drifted 1.5x with unchanged code; the r6
    // leak class was checkpoint blocks surviving their round). One compact
    // line per phase makes block-manager pressure visible in the archived
    // tail, so a future out-of-band reading carries its own diagnosis:
    // a leak shows as persistent_rdds / storage_mb GROWING run1 -> run2,
    // host variance shows them flat.
    def storageSnap(tag: String): String = {
      val sc = spark.sparkContext
      val rdds = sc.getPersistentRDDs.size
      val usedMb = sc.getExecutorMemoryStatus.values
        .map { case (max, rem) => (max - rem) / (1024L * 1024L) }.sum
      s""""$tag":{"persistent_rdds":$rdds,"storage_mb":$usedMb}"""
    }
    val snaps = scala.collection.mutable.ArrayBuffer(storageSnap("warm"))
    val run1 = runOnce()
    snaps += storageSnap("run1")
    val run2 = runOnce()
    snaps += storageSnap("run2")
    val steady = run1.zip(run2).map { case ((n, t1, ok1), (_, t2, ok2)) =>
      (n, math.min(t1, t2), ok1 && ok2)
    }
    // The driver archives only the LAST 2000 chars of the run's output and
    // parses the JSON line out of that tail (BENCH_r2-r4 recorded
    // parsed:null once the full-name line grew past it). Keep the whole
    // line comfortably under that: per-query keys are shortened to their
    // unique "qNN" prefix (~1.4 KB for ~100 queries) and times printed at
    // 3 decimals — millisecond precision is already below this VM's
    // run-to-run noise floor.
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    val collide = suite.map { case (k, _) => shortKey(k) }.distinct.size < suite.size
    def line(metric: String, outcomes: Seq[(String, Double, Boolean)]): String = {
      val qs = outcomes.map { case (k, v, _) =>
        "\"" + (if (collide) k else shortKey(k)) + "\":" + f3(v)
      }.mkString("{", ",", "}")
      val failed = outcomes.collect { case (k, _, false) => "\"" + k + "\"" }
        .sorted.mkString("[", ",", "]")
      val total = outcomes.map(_._2).sum
      s"""{"metric":"$metric","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    }
    // Four lines, each with a UNIQUE metric name so no consumer can
    // double-count a "total" (r6 advice): the two long per-query lines are
    // for humans/local diffing; at 208 keys they outgrow the driver's
    // 2000-char archive tail (r7: per-query times survived for only ~140
    // keys), so a compact "steady_slowest80" line — the 80 slowest steady
    // keys, which is where any regression must surface — plus the short
    // "total" line are printed LAST and together stay well under the tail
    // window (~1.2 KB + ~0.3 KB). Cross-round per-key tracking uses
    // steady_slowest80 from BENCH_r*.json; full detail is local-first
    // (BASELINE.md "Archived-tail contract").
    println(line("run1_detail", run1))
    println(line("steady_detail", steady))
    // ~170 chars; printed inside the archived tail window together with
    // steady_slowest80 + total (~1.7 KB combined, under the 2000-char tail).
    println(s"""{"metric":"storage",${snaps.mkString(",")}}""")
    // Self-diagnosis of out-of-band keys (r13, see the header block): a
    // third instrumented pass per flagged key, classified host/gc/spill/
    // code, printed INSIDE the archived tail window so a q137-class
    // reading carries its own adjudication. Printed even when empty so
    // "no outliers" is distinguishable from "diagnosis didn't run".
    // Printed BEFORE steady_slowest80: the common case (0–2 keys) fits the
    // 2000-char tail entirely, and a host-meltdown case (8 keys ≈ 1.6 KB)
    // clips THIS line's head rather than evicting slowest80/total — the
    // two lines every cross-round consumer parses. Fragments print
    // least-severe FIRST so the worst key sits nearest the surviving end.
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "src/test/resources/bench_baseline.txt")
    val baseline = parseBaseline(basePath)
    if (baseline.isEmpty)
      println(s"""{"metric":"outliers","note":"no baseline at $basePath","keys":{}}""")
    else {
      val band = sys.env.getOrElse("SPARK_GRAFT_OUTLIER_BAND", "4.0").toDouble
      val flagged = outlierKeys(steady, baseline, band, floorSec = 0.5)
      // cap the extra passes so a globally-slow session (every key 5x —
      // clearly host-wide) can't double the bench; the count of dropped
      // keys is reported rather than silently truncated
      val (diag, dropped) = flagged.splitAt(8)
      val frags = diag.reverse.map { case (k, t, b) =>
        diagnose(spark, k, SparkEntry.queries(k), sfDir, b, t)
      }
      val drop = if (dropped.isEmpty) "" else s""","undiagnosed":${dropped.size}"""
      println(s"""{"metric":"outliers","band":$band,"keys":${frags.mkString("{", ",", "}")}$drop}""")
    }
    println(line("steady_slowest80", steady.sortBy(-_._2).take(80)))
    val failed = steady.collect { case (k, _, false) => "\"" + k + "\"" }
      .sorted.mkString("[", ",", "]")
    val total = steady.map(_._2).sum
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","agg":"min_of_2_runs","run1_total":${f3(run1.map(_._2).sum)},"n_queries":${steady.size},"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
