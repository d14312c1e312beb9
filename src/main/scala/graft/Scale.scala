package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the headline plan families (SCALING.md).
  *
  * Every "survives 100×" claim in the operator scaladocs is a design
  * argument (domain-bounded grains, range-blocked prefix scans, capped
  * LSH buckets, per-key-constant join density); this main MEASURES it:
  * blow the probe tables up ×k with deterministic hash-free
  * perturbations, run each family at 1×/10×/100×, and report
  * rows-vs-seconds so a superlinear plan shows up as a slope, not a
  * slogan. ScalingSpec pins the 10× ratio in the test suite.
  *
  * Blow-up shape (the 100 TB-realistic one): KEY COUNT scales ×k while
  * per-key group size stays constant — each copy gets disjoint
  * user/customer/doc/vector ids, value supports widen via copy-dependent
  * cent/epsilon offsets, and document words get a per-copy suffix so
  * copies are textually independent corpora (duplicating text verbatim
  * would instead measure the LSH hot-bucket cap on an all-duplicate
  * corpus — a different, adversarial experiment). Copy 0 is bit-identical
  * to the source, so 1× runs on the original table files.
  */
object Scale {

  /** The probed families and the tables each one stresses. */
  val families: Seq[(String, String)] = Seq(
    "q210_spearman_corr" -> "lineitem grouped prefix-scan rank supports",
    "q149_weighted_median" -> "lineitem grouped prefix-scan cumulative weights",
    "q114_rfm_segments" -> "orders one-pass grouped exact ntile",
    "q209_quantile_norm" -> "embeddings per-dim rank supports",
    "q76_dedup_ngram_jaccard" -> "documents shingle LSH with capped buckets",
    "q257_multimodal_phash" -> "documents banded-LSH hamming pairs",
    "q113_item_pagerank" -> "events edge build + fixed-size fixpoint",
    "q121_rolling_active_users" -> "events 7-day contribution explode",
    "q39_join_interval_bucketed" -> "events bucketed interval self-join",
    "q93_dedup_components" -> "documents shingle-bucket connected components",
    "q64_user_knn_predict" -> "ratings contributor-capped pair self-join",
    "q120_ref_integrity" -> "5-edge FK audit: full-outer join of key grains",
    "q71_sim_search_topk" -> "embeddings brute-force cosine top-k (10 probes)",
    "q85_sim_search_ivf" -> "embeddings IVF nprobe=1 cell-routed search",
    // the batched-mapPartitions multimodal kernel plumbing (r12): the one
    // operator class whose row-linearity was design-argued but unmeasured —
    // q06 emits a transformed BINARY column (resize), q09 per-payload
    // feature scalars; both are the shape a real decoder drops into
    "q06_multimodal_resize" -> "documents batched binary-kernel resize",
    "q09_multimodal_features" -> "documents batched binary-kernel features")

  /** Which probe tables each family stresses — lets a deep (e.g. ×1000)
    * probe of one family skip blowing up the others (a ×1000 lineitem is
    * ~600 M rows of parquet nobody asked for). The pseudo-table "dims"
    * passes region/nation/customer/supplier/part through verbatim —
    * q120's small FK edges read them from the blow-up dir. */
  val tableOf: Map[String, Set[String]] = Map(
    "q210_spearman_corr" -> Set("lineitem"),
    "q149_weighted_median" -> Set("lineitem"),
    "q114_rfm_segments" -> Set("orders"),
    "q209_quantile_norm" -> Set("embeddings"),
    "q76_dedup_ngram_jaccard" -> Set("documents"),
    "q257_multimodal_phash" -> Set("documents"),
    "q113_item_pagerank" -> Set("events"),
    "q121_rolling_active_users" -> Set("events"),
    "q39_join_interval_bucketed" -> Set("events"),
    "q93_dedup_components" -> Set("documents"),
    "q64_user_knn_predict" -> Set("events"), // ratings derive from events.props
    "q120_ref_integrity" -> Set("lineitem", "orders", "dims"),
    "q71_sim_search_topk" -> Set("embeddings"),
    "q85_sim_search_ivf" -> Set("embeddings"),
    "q06_multimodal_resize" -> Set("documents"),
    "q09_multimodal_features" -> Set("documents"),
    // skew-probe-only families (events-resident, see skewFamilies)
    "q32_window_sessionize" -> Set("events"),
    "q115_session_paths" -> Set("events"),
    "q115_capped" -> Set("events"),
    "q168_user_entropy" -> Set("events"))

  private val OFF = 1000000000L // id offset per copy: disjoint key spaces

  /** The hot-key skew probe's family set (r12). The uniform blow-up keeps
    * per-key group size constant BY DESIGN — the shape where partitioned
    * plans scale out cleanly. This set measures the opposite adversarial
    * direction: ONE user absorbing 10% of all events (a bot/test account at
    * 100 TB), the case where per-key windows serialize into a single task
    * and per-key self-joins go quadratic in hot-key density. Families
    * chosen to span the distinct skew behaviours:
    *  - per-user window chains (q32, q115): O(h log h) sort of the hot
    *    key's h rows in ONE task — the classic straggler;
    *  - per-user bucketed self-join (q39): pair count grows with the hot
    *    key's per-cell density SQUARED — semantic output growth any engine
    *    pays, bounded here by the 5-min cell grain;
    *  - per-user lag edge build + item fixpoint (q113);
    *  - contributor-capped CF core (q64): the per-user top-50 cap should
    *    absorb the hot rater — measured, not assumed;
    *  - user-day explode (q121) and a plain two-level groupBy (q168):
    *    partial aggregation absorbs hot GROUP keys map-side — the control
    *    rows that should stay at uniform-corpus cost. */
  val skewFamilies: Seq[(String, String)] = Seq(
    "q32_window_sessionize" -> "per-user gap window, single-task hot key",
    "q115_session_paths" -> "per-user session + lead windows",
    "q115_capped" -> "q115 behind Graft.capPerKey(user_id, 1000) — the mitigation row",
    "q39_join_interval_bucketed" -> "per-user 5-min-cell self-join",
    "q113_item_pagerank" -> "per-user lag edge build + item fixpoint",
    "q64_user_knn_predict" -> "per-user-capped CF pair core",
    "q121_rolling_active_users" -> "user-day explode + day groupBy (control)",
    "q168_user_entropy" -> "two-level groupBy (map-side-combine control)")

  /** Probe-only variants OUTSIDE the frozen 278-key inventory (they have no
    * oracle and exist purely as experiment rows). "q115_capped" is the
    * hot-key mitigation recipe measured against q115's skew curve: cap
    * every user to their first 1000 events (content-stable ts+event_id
    * order — ~10x the organic per-user max at every SF, so the cap never
    * binds on a uniform corpus) BEFORE the same 3-window session-path
    * chain. `Graft.capPerKey`'s WindowGroupLimit runs its partial mode
    * map-side, cutting the hot key's rows per input partition before the
    * shuffle — the capped hot-key curve should sit on the uniform one
    * (SkewSpec pins the x10 point; SCALING.md records x1000). */
  val extraProbes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q115_capped" -> ((s, d) => operators.Windows.sessionPaths(
      api.Graft.capPerKey(Tables.events(s, d), Seq("user_id"), 1000,
        Seq(col("ts"), col("event_id"))))))

  /** Hot user id for the skew blow-up: outside every non-hot copy's offset
    * space (copies occupy [copy·OFF, copy·OFF + baseIds) for copy < k ≤
    * 1000 — safe up to ×1000, the deepest documented run, because copy 999
    * is itself a hot copy (999 % 10 == 9) so its offset space — the only
    * one containing HOT — is never emitted). */
  private val HOT = OFF * 999L

  /** Skewed ×k events blow-up: identical to [[blowUp]]'s events branch —
    * same event_id/ts/value perturbations, same copy count, same `files`
    * fan-out (single-file default for published-curve comparability; a
    * multi-file uniform control vs a single-file skew corpus would
    * confound writer layout with hot-key cost — the row-group ceiling
    * documented at [[blowUp]]) — EXCEPT that every 10th copy's rows land
    * on the single [[HOT]] user instead of a disjoint id space. At k ≥ 10
    * the hot user holds 10% of all events (k/10 × base rows) while the
    * remaining users keep constant group size, so a same-k uniform-vs-skew
    * time delta isolates pure hot-key cost. Copy 0 stays bit-identical to
    * the source (hot copies are copy % 10 == 9), so k = 1 remains the
    * unskewed base. */
  def blowUpSkew(spark: SparkSession, src: String, out: String, k: Int,
                 files: Int = 1): Unit = {
    def done(t: String) =
      new java.io.File(s"$out/$t.parquet/_SUCCESS").exists()
    if (!done("events")) {
      val blown = spark.read.parquet(s"$src/events.parquet")
        .crossJoin(broadcast(
          spark.range(k.toLong).select(col("id").as("copy"))))
        .select((col("event_id") + col("copy") * OFF).as("event_id"),
          expr("timestampadd(MICROSECOND, copy, ts)").as("ts"),
          when(col("copy") % 10 === 9, lit(HOT))
            .otherwise(col("user_id") + col("copy") * OFF).as("user_id"),
          col("event_type"),
          (col("value") + col("copy").cast("double") * 1e-4).as("value"),
          col("props"))
      (if (files > 1) blown.repartition(files) else blown)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
  }

  /** Deterministic ×k blow-up of the probe tables in `tables` from `src`
    * into `out`. Idempotent per (out, k): skips tables already written.
    *
    * `files` fans each written table out across that many parquet files
    * (default 1 — the single-file layout every published curve ran on).
    * WHY it exists (r12): a single-partition write produces one file whose
    * row groups are ~128 MB, and a parquet SPLIT cannot subdivide a row
    * group — so a scan-dominated family's parallelism is size/128 MB no
    * matter what `maxPartitionBytes` says (measured: the q06/q09 kernel
    * families run one task at ×100's 78 MB corpus). Shuffle-heavy families
    * never noticed (their cost centers run at shuffle parallelism), but
    * kernel families need `files` ≈ cores for the wall number to measure
    * the KERNEL rather than the writer's layout. A real 100 TB table is
    * thousands of files — `files > 1` is the realistic layout, and the
    * single-file default is kept only for published-curve comparability. */
  def blowUp(spark: SparkSession, src: String, out: String, k: Int,
             tables: Set[String] = Set("events", "lineitem", "orders",
               "documents", "embeddings", "dims"),
             files: Int = 1): Unit = {
    def done(t: String) =
      new java.io.File(s"$out/$t.parquet/_SUCCESS").exists()
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(
        spark.range(k.toLong).select(col("id").as("copy"))))
    def save(df: DataFrame, t: String): Unit =
      (if (files > 1) df.repartition(files) else df)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    if (tables("events") && !done("events"))
      save(copies(spark.read.parquet(s"$src/events.parquet"))
        .select((col("event_id") + col("copy") * OFF).as("event_id"),
          expr("timestampadd(MICROSECOND, copy, ts)").as("ts"),
          (col("user_id") + col("copy") * OFF).as("user_id"),
          col("event_type"),
          (col("value") + col("copy").cast("double") * 1e-4).as("value"),
          col("props")), "events")

    if (tables("lineitem") && !done("lineitem"))
      save(copies(spark.read.parquet(s"$src/lineitem.parquet"))
        .withColumn("l_orderkey", col("l_orderkey") + col("copy") * OFF)
        // widen the price support ×min(k,100): the prefix-scan stressor
        .withColumn("l_extendedprice",
          col("l_extendedprice") + (col("copy") % 100).cast("double") * 0.01)
        .drop("copy"), "lineitem")

    if (tables("orders") && !done("orders"))
      save(copies(spark.read.parquet(s"$src/orders.parquet"))
        .withColumn("o_orderkey", col("o_orderkey") + col("copy") * OFF)
        .withColumn("o_custkey", col("o_custkey") + col("copy") * OFF)
        .withColumn("o_totalprice",
          col("o_totalprice") + (col("copy") % 100).cast("double") * 0.01)
        .drop("copy"), "orders")

    if (tables("documents") && !done("documents"))
      save(copies(spark.read.parquet(s"$src/documents.parquet"))
        .withColumn("doc_id", col("doc_id") + col("copy") * OFF)
        .withColumn("text", when(col("copy") === 0, col("text")).otherwise(
          expr("array_join(transform(filter(split(text, ' '), w -> w != ''), " +
            "w -> concat(w, '_c', CAST(copy AS STRING))), ' ')")))
        .drop("copy"), "documents")

    // dimension passthrough (verbatim): dims stay dimension-sized at every
    // factor, exactly as at 100 TB. The blown orders keep their offset
    // o_custkey, so the orders→customer edge reads (k−1)/k orphaned at
    // k>1 — the audit's cost is key-grain aggregation plus the join, both
    // match-rate-independent, and the dominant lineitem→orders edge stays
    // consistent (both sides share the copy offset).
    if (tables("dims"))
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        if (!done(t))
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }

    if (tables("embeddings") && !done("embeddings"))
      save(copies(spark.read.parquet(s"$src/embeddings.parquet"))
        .withColumn("vec_id", col("vec_id") + col("copy") * OFF)
        .withColumn("embedding",
          expr("transform(embedding, x -> CAST(x + copy * 1e-4 AS FLOAT))"))
        .drop("copy"), "embeddings")
  }

  /** Families whose ENTIRE result is session-memoized (computed once per
    * corpus by design, then reused by other keys): min-of-N would measure
    * a cache read, so these report their run-1 COLD BUILD time instead —
    * the number a pipeline owner actually pays at each corpus refresh. */
  private val buildOnce = Set("q93_dedup_components")

  /** Task-metric tallies of ONE probe run — the reported (min-sec) one,
    * so the tallies explain exactly the published number. Vocabulary is
    * [[Bench.diagnose]]'s: wall vs summed executor task-time separates
    * compute from scheduling serialization (a hot-key straggler shows
    * wall ≈ one task's time with taskSec ≪ wall × cores), gcMs names
    * memory pressure, spillBytes names partitions-don't-fit. */
  final case class ProbeTally(sec: Double, taskSec: Double, gcMs: Long,
      spillBytes: Long)

  /** One full-width timed run of `fn` against `dir` under a task-metrics
    * listener ([[Bench.TaskTally]] — the r13 outlier-diagnosis machinery).
    * The wall clock stops BEFORE the listener-bus drain, so tallied
    * seconds are the identical measurement the probe always made; the
    * drain only makes the tallies complete (r13 ADVICE: a fixed sleep
    * undercounts on a loaded host). */
  private def timedTallied(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String): ProbeTally = {
    val tally = new Bench.TaskTally
    // Bench.force, not count(): the same full-width materialization
    // the bench times, so scaling curves measure complete results
    // (count() lets Catalyst prune terminal projections — r10)
    val (run, wall) = Bench.tallied(spark, tally)(Bench.force(fn(spark, dir)))
    run.get
    ProbeTally(wall, tally.runMs.get / 1e3, tally.gcMs.get,
      tally.spillBytes.get)
  }

  /** Fill the shared INPUT memos once so family timings measure the
    * plan, not whichever family touches a cold memo first (the Bench
    * discipline); shingles5 is q93's input grain, warmed so its run-1
    * build time is the fixpoint, not the shingle scan. Only memos whose
    * source table the probe subset actually blew up are warmable. */
  private def warmMemos(spark: SparkSession, dir: String,
      keys: Seq[String]): Unit = {
    val tabs = keys.flatMap(tableOf.getOrElse(_, Set.empty[String])).toSet
    Bench.warmUp("scale", Seq(
      "events" -> (() => if (tabs("events")) Tables.events(spark, dir).count()),
      // the shingle family split grains (r11): q93 fingerprints off the sha256
      // STRING grain, q76's pair intersection off the compact 64-bit grain —
      // warm only what the probed subset consumes, so an isolated q76 probe
      // doesn't carry a string-shingle cache it never reads
      "shingles5" -> (() => if (keys.contains("q93_dedup_components"))
        operators.TextPipeline.shingles5(spark, dir).count()),
      "shingles5h" -> (() => if (keys.contains("q76_dedup_ngram_jaccard"))
        operators.TextPipeline.shingles5h(spark, dir).count())))
  }

  /** Runs each family in `keys` `runs` times against `dir`, returns
    * (key, sec): min across runs for plan families, run-1 for
    * [[buildOnce]] ones. */
  def probe(spark: SparkSession, dir: String, runs: Int = 2,
            keys: Seq[String] = families.map(_._1)): Seq[(String, Double)] =
    probeTallied(spark, dir, runs, keys).map { case (k, t) => k -> t.sec }

  /** [[probe]] with each point's task-metric tallies (r14): the reported
    * run's [[ProbeTally]]. Why: the deep (×1000) decade carries documented
    * host-day variance — q115 uniform read 45.0 and 24.3 s on the SAME
    * code in two r13 sessions — that a bare wall number cannot adjudicate.
    * A point that carries its own gc_ms/spill_mb separates real memory
    * pressure (grows with the corpus, reproduces) from host drift
    * (doesn't) WITHOUT a re-run — the same evidence Bench's outlier
    * diagnosis attaches to flagged bench keys, now on every scaling
    * point. Env `SPARK_GRAFT_SCALE_TALLY=1` makes [[main]] emit it. */
  def probeTallied(spark: SparkSession, dir: String, runs: Int = 2,
      keys: Seq[String] = families.map(_._1)): Seq[(String, ProbeTally)] = {
    warmMemos(spark, dir, keys)
    keys.map { key =>
      val fn = SparkEntry.queries.getOrElse(key, extraProbes(key))
      val reps = (1 to runs).map(_ => timedTallied(spark, fn, dir))
      key -> (if (buildOnce(key)) reps.head else reps.minBy(_.sec))
    }
  }

  /** Paired uniform-vs-hot probe (r14, verdict task #4): runs each family
    * against BOTH corpora in ONE session, interleaved at the repetition
    * level — uniform run 1, hot run 1, uniform run 2, hot run 2 per key —
    * and returns (key, uniformMin, hotMin). Why: the deep (×1000, 100 M-row)
    * decade has documented bad host-day variance (q115 uniform read 45.0
    * and 24.3 s on the SAME code in two r13 sessions), so r13's skew
    * conclusions had to be hand-assembled from same-session pairs across
    * separate uniform and hot invocations. Temporal adjacency inside one
    * session makes every hot/uniform ratio self-controlled: host drift
    * hits both sides of a pair nearly equally, so the ratio survives even
    * when the absolute seconds don't. Both corpora's events memos stay
    * cached across the interleave (the Dataset default MEMORY_AND_DISK
    * level absorbs the doubled footprint at ×1000). */
  def probePaired(spark: SparkSession, uniDir: String, hotDir: String,
      runs: Int = 2, keys: Seq[String] = skewFamilies.map(_._1))
      : Seq[(String, Double, Double)] =
    probePairedTallied(spark, uniDir, hotDir, runs, keys)
      .map { case (k, u, h) => (k, u.sec, h.sec) }

  /** [[probePaired]] with per-side tallies: each side's reported
    * (min-sec) run as a [[ProbeTally]]. A skewed pair whose hot side
    * reproduces WITH spill is a genuine partitions-don't-fit onset; one
    * whose tallies match the uniform side is scheduling serialization
    * (the single-task straggler — wall grows, taskSec barely does) or
    * host drift. The interleave is run-level, exactly [[probePaired]]'s:
    * uniform run 1, hot run 1, uniform run 2, hot run 2 per key. */
  def probePairedTallied(spark: SparkSession, uniDir: String, hotDir: String,
      runs: Int = 2, keys: Seq[String] = skewFamilies.map(_._1))
      : Seq[(String, ProbeTally, ProbeTally)] = {
    // fill both corpora's shared events memo first, same Bench discipline
    // as probe(): timings measure the plan, not a cold memo build
    Bench.warmUp("scale",
      Seq(uniDir, hotDir).map(d => s"events $d" -> (() => Tables.events(spark, d).count())))
    keys.map { key =>
      val fn = SparkEntry.queries.getOrElse(key, extraProbes(key))
      val reps = (1 to runs).map(_ =>
        (timedTallied(spark, fn, uniDir), timedTallied(spark, fn, hotDir)))
      (key, reps.map(_._1).minBy(_.sec), reps.map(_._2).minBy(_.sec))
    }
  }

  /** args: [factors] [family-subset] — e.g. `1000 q39,q113,q121` probes
    * only the events families at ×1000, blowing up ONLY events. A bare
    * prefix like `q39` matches its full key. Env `SPARK_GRAFT_SCALE_SKEW=1`
    * switches to the hot-key skew experiment: [[blowUpSkew]] corpora,
    * [[skewFamilies]] as the default key set, metric `scaling_skew`.
    * Env `SPARK_GRAFT_SCALE_PAIRED=1` (implies the skew experiment) runs
    * [[probePaired]]: both the uniform AND hot corpus of each factor are
    * built and probed interleaved in ONE session, emitting metric
    * `scaling_skew_paired` with per-key {uniform, hot, ratio}.
    * Env `SPARK_GRAFT_SCALE_TALLY=1` widens every per-key value into an
    * object carrying the reported run's task tallies (task_sec, gc_ms,
    * spill_mb — [[ProbeTally]]), so a probe point explains itself:
    * memory pressure vs spill vs straggler vs host drift. The plain
    * number shape stays the default for published-curve comparability.
    * Env `SPARK_GRAFT_SPARK_CONF="k=v;k=v"` passes arbitrary Spark confs
    * to the probe session (applied last, so pairs can override the named
    * knobs) — the memory-pressure A/Bs live off it (SCALING.md r14). */
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outBase = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scaling")
    val paired = sys.env.get("SPARK_GRAFT_SCALE_PAIRED").contains("1")
    val tallied = sys.env.get("SPARK_GRAFT_SCALE_TALLY").contains("1")
    val skew = paired || sys.env.get("SPARK_GRAFT_SCALE_SKEW").contains("1")
    val keyPool = if (skew) skewFamilies else families
    val factors = args.headOption.getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    // explicit subsets resolve against BOTH pools so the skew families can
    // be probed on a uniform corpus (the control side of the experiment)
    val lookup = (families ++ skewFamilies).map(_._1).distinct
    val keys: Seq[String] =
      if (args.length < 2) keyPool.map(_._1)
      else args(1).split(",").map(_.trim).toSeq.map { p =>
        lookup.find(k => k == p || k.startsWith(p + "_"))
          .getOrElse(sys.error(s"unknown scale family: $p"))
      }
    // skew mode writes ONLY events.parquet — a resolved family that reads
    // any other table would die mid-probe with FileNotFound at k>1; fail
    // fast with the actual mistake instead (r12 ADVICE)
    if (skew) keys.foreach { k =>
      val tabs = tableOf.getOrElse(k, Set.empty[String])
      require(tabs == Set("events"),
        s"skew mode (SPARK_GRAFT_SCALE_SKEW=1) blows up only events.parquet, " +
          s"but family $k reads ${tabs.mkString("{", ",", "}")} — " +
          "probe it on a uniform corpus instead")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle-partition override for probe experiments. MEASURED on the
    // q120 ×1000 2×2 (SCALING.md r11): partition count is NOT the
    // third-decade knob — at 16 g heap, 32 vs 256 partitions read 67.8 vs
    // 69.8 s (flat; per-task agg spill is sequential, page-cache-backed
    // I/O), while at 96 g heap 256 partitions cost 1.44× over 32. The
    // knob that matters on one node is HEAP vs PAGE CACHE: a 96 g heap
    // starves the OS cache of the 600 M-row parquet + shuffle files
    // (188.6 s at 32 partitions vs 67.8 s at 16 g, same session). Keep
    // probe heaps modest; use this override only to re-run the A/B.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Scan-split override for probe experiments. The blow-up writes each
    // table as ONE parquet file, so splits = size / maxPartitionBytes: a
    // sub-128 MB corpus runs a CPU-heavy kernel family on ONE core (the
    // q06/q09 ×100 artifact, SCALING.md r12) while at real scale splits
    // grow with data automatically. Lowering this for a probe restores
    // data-proportional parallelism at small corpus sizes.
    val mpb = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
      (128L * 1024 * 1024).toString)
    // Generic Spark-conf passthrough for probe experiments:
    // SPARK_GRAFT_SPARK_CONF="k=v;k=v" applies each pair to the builder
    // AFTER the named knobs above (so a pair can override them). Why it
    // exists (r14 spill regime, SCALING.md): the memory-pressure A/Bs
    // needed spark.sql.adaptive.advisoryPartitionSizeInBytes — at a
    // tight heap, AQE re-sizes post-shuffle partitions toward its SIZE
    // target, so raising shuffle.partitions alone cannot shrink per-task
    // sort state; q115 ×100 at 2.5 g/256 partitions spilled a
    // reproducible 511 MB until the advisory target was dropped to 8 MB
    // — and each forensic run wants a different conf (coalesce on/off,
    // advisory size), which would otherwise grow one env var per knob.
    val extraConf: Seq[(String, String)] =
      sys.env.getOrElse("SPARK_GRAFT_SPARK_CONF", "").split(";").toSeq
        .map(_.trim).filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"SPARK_GRAFT_SPARK_CONF pair without '=': $kv")
          (kv.take(i).trim, kv.drop(i + 1).trim)
        }
    val spark = Session.local(cpus, scratch = false, conf = Seq(
      "spark.sql.shuffle.partitions" -> shuffleParts,
      "spark.sql.files.maxPartitionBytes" -> mpb,
      // Shuffle-file cleanup is driven by ContextCleaner, which only
      // fires on driver GC; a deep (×1000) probe with a big heap barely
      // GCs, so spill/shuffle dirs accumulate unboundedly across the
      // 600 M-row families and can fill the disk mid-probe (observed:
      // ~68 GB of /tmp spill before ENOSPC). Force a periodic GC so
      // finished stages' files are reclaimed while the probe runs.
      "spark.cleaner.periodicGC.interval" -> "2min") ++ extraConf)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val tabs =
      if (skew) Set("events")
      else keys.flatMap(tableOf.getOrElse(_, Set.empty[String])).toSet
    // SPARK_GRAFT_BLOWUP_FILES=N writes blown tables as N parquet files
    // (own corpus dir, suffix _fN) — see the blowUp scaladoc: single-file
    // corpora cap scan-stage parallelism at size/128 MB (one row group per
    // ~128 MB), which a kernel-dominated family inherits as its wall time.
    val blowFiles = sys.env.getOrElse("SPARK_GRAFT_BLOWUP_FILES", "1").toInt
    val fSuffix = if (blowFiles > 1) s"_f$blowFiles" else ""
    factors.foreach { k =>
      if (paired) {
        // both corpora of the SAME factor, probed interleaved in this one
        // session — the skew table's paired-readings form (r14)
        val uniDir =
          if (k == 1) src
          else {
            blowUp(spark, src, s"$outBase/x$k$fSuffix", k, Set("events"), blowFiles)
            s"$outBase/x$k$fSuffix"
          }
        val hotDir =
          if (k == 1) src // ×1 is unskewed by construction: a noise-floor pair
          else {
            blowUpSkew(spark, src, s"$outBase/skew_x$k$fSuffix", k, blowFiles)
            s"$outBase/skew_x$k$fSuffix"
          }
        val rows = s""""events_rows":${spark.read.parquet(s"$uniDir/events.parquet").count()}"""
        val times = probePairedTallied(spark, uniDir, hotDir, keys = keys)
        val qs = times.map { case (q, u, h) =>
          val ratio = if (u.sec > 0) h.sec / u.sec else Double.NaN
          if (tallied)
            s""""$q":{"uniform":${f3(u.sec)},"hot":${f3(h.sec)},"ratio":${f3(ratio)},""" +
              s""""uniform_task_sec":${f3(u.taskSec)},"uniform_gc_ms":${u.gcMs},""" +
              s""""uniform_spill_mb":${u.spillBytes / (1024 * 1024)},""" +
              s""""hot_task_sec":${f3(h.taskSec)},"hot_gc_ms":${h.gcMs},""" +
              s""""hot_spill_mb":${h.spillBytes / (1024 * 1024)}}"""
          else
            s""""$q":{"uniform":${f3(u.sec)},"hot":${f3(h.sec)},"ratio":${f3(ratio)}}"""
        }.mkString("{", ",", "}")
        println(s"""{"metric":"scaling_skew_paired","skew":"hot10_user","factor":$k,$rows,"queries":$qs,"src":"$src"}""")
      } else {
        val dir =
          if (k == 1) src
          else if (skew) {
            blowUpSkew(spark, src, s"$outBase/skew_x$k$fSuffix", k, blowFiles)
            s"$outBase/skew_x$k$fSuffix"
          } else {
            blowUp(spark, src, s"$outBase/x$k$fSuffix", k, tabs, blowFiles)
            s"$outBase/x$k$fSuffix"
          }
        val rows = Seq("events", "lineitem").filter(tabs).map { t =>
          s""""${t}_rows":${spark.read.parquet(s"$dir/$t.parquet").count()}"""
        }
        val times = probeTallied(spark, dir, keys = keys)
        val qs = times.map { case (q, t) =>
          if (tallied)
            s""""$q":{"sec":${f3(t.sec)},"task_sec":${f3(t.taskSec)},""" +
              s""""gc_ms":${t.gcMs},"spill_mb":${t.spillBytes / (1024 * 1024)}}"""
          else s""""$q":${f3(t.sec)}"""
        }.mkString("{", ",", "}")
        val metric = if (skew) """"metric":"scaling_skew","skew":"hot10_user""""
          else """"metric":"scaling""""
        println(s"""{$metric,"factor":$k,${(rows :+ s""""queries":$qs""").mkString(",")},"src":"$src"}""")
      }
    }
    spark.stop()
  }
}
