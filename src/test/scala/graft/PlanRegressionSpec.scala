package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.plans.{CosineSim, SimilarityBandRewrite}

/** Explain-plan regressions for the flagship shapes: the physical plan is
  * part of the contract at 100 TB, not an implementation detail. Each test
  * pins the plan property that makes the query scale — filters reaching the
  * parquet scan, dims (and only dims) broadcast, top-k avoiding a total
  * sort, fact-fact joins shuffling — so a regression of the q64 class
  * (accidentally broadcasting a fact table) fails CI, not the cluster. */
class PlanRegressionSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val d = TestSpark.sf0001

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The LIVE portion of an explain string: drops every subtree nested
    * under an InMemoryRelation. A cached relation prints the physical plan
    * that BUILT it, frozen at first materialization — those nodes already
    * ran (under whatever conf was active then, e.g. auto-broadcast of a
    * domain-bounded side while a lint later tests with broadcast off) and
    * re-flagging them makes a lint depend on which suite warmed a Tables
    * memo first. Subtree depth is read off the tree-drawing prefix. */
  private def livePlan(plan: String): String = {
    var skipBelow = -1
    def ind(l: String) = l.takeWhile(" :+-|".contains(_)).length
    plan.linesIterator.filter { l =>
      val i = ind(l)
      if (skipBelow >= 0 && i > skipBelow) false
      else { skipBelow = if (l.contains("InMemoryRelation")) i else -1; true }
    }.mkString("\n")
  }

  test("q02: shipdate/quantity filters are pushed into the parquet scan") {
    val plan = planOf(operators.Scans.q02(s, d))
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("l_shipdate") && plan.contains("l_quantity"))
    // pushed as actual filters, not an empty PushedFilters: []
    assert("PushedFilters: \\[\\]".r.findFirstIn(plan).isEmpty)
  }

  test("q19/q48: dims broadcast, top-k via TakeOrderedAndProject (no total sort)") {
    for (q <- Seq(operators.Workloads.q19(s, d), operators.Workloads.q48(s, d))) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"))
      assert(plan.contains("TakeOrderedAndProject"))
    }
  }

  test("capPerKey plans a WindowGroupLimit with a map-side partial (the skew mitigation's plan contract)") {
    // The scaladoc's scale claim: the row_number + <= n filter rewrites to
    // WindowGroupLimit, whose Partial mode cuts a hot key's rows per input
    // partition BEFORE the shuffle. If a Spark upgrade or a refactor drops
    // the rewrite (e.g. the rank filter no longer matches), the cap
    // degenerates to a full window sort of the hot partition — exactly the
    // straggler it exists to prevent — so the plan property is the test.
    val plan = planOf(graft.api.Graft.capPerKey(
      Tables.events(s, d), Seq("user_id"), 50, Seq(col("ts"), col("event_id"))))
    assert(plan.contains("WindowGroupLimit"),
      s"capPerKey must plan via WindowGroupLimit, got:\n$plan")
    assertGroupLimitPrunesBeforeExchange(plan)
  }

  /** The cap's plan contract: rows are pruned BEFORE any exchange. Spark
    * plans that two ways: a Partial pass below the shuffle + a Final above
    * it (un-partitioned input), or — when the input already carries the
    * key's partitioning, the r14 events cache layout — a SINGLE Final pass
    * with NO exchange at all, which is strictly better. Accept both;
    * reject the degenerate full-window-sort (no WindowGroupLimit) and a
    * Final-only pass that still shuffles below itself. */
  private def assertGroupLimitPrunesBeforeExchange(plan: String): Unit =
    if (!plan.contains("Partial")) {
      val span = plan.substring(plan.indexOf("WindowGroupLimit"))
      val cut = Seq("InMemoryTableScan", "FileScan", "Scan parquet")
        .map(span.indexOf).filter(_ >= 0).min
      assert(!span.substring(0, cut).contains("Exchange"),
        "Final-only WindowGroupLimit with an exchange below it — the cap " +
          s"is not pruning map-side:\n$plan")
    }

  test("capPerKey keeps the WindowGroupLimit plan AT the shipped recipe value n=1000 (the threshold boundary)") {
    // The shipped recipe (q115_capped, SCALING.md's flattening experiment,
    // SkewSpec) caps at n=1000 — EXACTLY Spark's default
    // spark.sql.optimizer.windowGroupLimitThreshold, whose boundary is
    // inclusive (limit <= threshold) in 4.1.2. If an upgrade makes the
    // boundary exclusive or lowers the default, the n=1000 recipe silently
    // degrades to a full window sort of the hot partition while the n=50
    // pin above stays green (r13 ADVICE) — so pin the boundary value too.
    val plan = planOf(graft.api.Graft.capPerKey(
      Tables.events(s, d), Seq("user_id"), 1000, Seq(col("ts"), col("event_id"))))
    assert(plan.contains("WindowGroupLimit"),
      s"capPerKey at n=1000 must still plan via WindowGroupLimit, got:\n$plan")
    assertGroupLimitPrunesBeforeExchange(plan)
  }

  test("capPerKey never clobbers a caller's own __cap_rn column") {
    // withColumn REPLACES a same-named column, so a fixed helper name would
    // silently drop the caller's __cap_rn at the end (r13 ADVICE); the
    // helper now derives a collision-free name instead.
    val withRn = Tables.events(s, d)
      .withColumn("__cap_rn", col("event_id") * 2)
    val out = graft.api.Graft.capPerKey(withRn, Seq("user_id"), 5,
      Seq(col("ts"), col("event_id")))
    assert(out.columns.contains("__cap_rn"),
      "caller's __cap_rn column disappeared")
    assert(out.filter(col("__cap_rn") =!= col("event_id") * 2).count() == 0,
      "caller's __cap_rn values were overwritten by the helper rank")
    // and the cap semantics are unchanged by the renamed helper
    val plain = graft.api.Graft.capPerKey(Tables.events(s, d), Seq("user_id"),
      5, Seq(col("ts"), col("event_id")))
    assert(out.count() == plain.count())
  }

  test("q64: no BroadcastExchange anywhere when auto-broadcast is off (no fact-sized broadcast hints)") {
    // Disabling size-based auto-broadcast leaves only EXPLICIT broadcasts in
    // the plan — at 100 TB every q64 input (ratings, norms, sims) is
    // fact-proportional, so any surviving BroadcastExchange is a bug of the
    // round-2 class (broadcast(fullRatings) → executor OOM at scale).
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // livePlan: the contrib1024 memo, if another suite already warmed it,
      // shows its FROZEN build plan under InMemoryRelation — that build
      // legitimately auto-broadcast the per-item threshold side (one row
      // per item, domain-bounded, never fact-proportional) and is not a
      // live exchange in q64's executed plan.
      val plan = livePlan(planOf(operators.Recommender.q64(s, d)))
      assert(!plan.contains("BroadcastExchange"))
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q10: a genuine dimension join still broadcasts by hint even with auto-broadcast off") {
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(planOf(operators.Joins.q10(s, d)).contains("BroadcastExchange"))
    finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q100: term filter reaches the token scan; only query-sized sides forced broadcast") {
    val plan = planOf(operators.Retrieval.q100(s, d))
    // the IN(query terms) predicate must apply AT the (cached) token scan,
    // before any shuffle — shuffled volume is term hits, not the corpus
    assert(plan.contains("hash,join,dup"), s"term filter not pushed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
    // with auto-broadcast off, the only surviving broadcasts are the
    // EXPLICIT hints on the |query|-row df and 1-row stats relations; the
    // doc-length side (fact-proportional) must shuffle, not broadcast
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = planOf(operators.Retrieval.q100(s, d))
      val nBroadcast = "BroadcastExchange".r.findAllIn(p2).length
      assert(nBroadcast == 2, s"expected exactly df+stats broadcasts, got $nBroadcast:\n$p2")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("SimilarityBandRewrite fires on q77's all-pairs shape and preserves results exactly") {
    // q77's own 0.5 threshold matches NOTHING at sf0.001 (max pairwise
    // cosine 0.479) — run the identical shape at 0.4 so the parity check
    // compares 66 real rows, not two empty sets
    def shape(): org.apache.spark.sql.DataFrame = {
      CosineSim.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      e.select(col("vec_id").as("vec_a"), col("v").as("va"))
        .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")),
          col("vec_a") < col("vec_b"))
        .withColumn("cos", Tables.r5(expr("cosine_sim(va, vb)")))
        .filter(col("cos") >= 0.4)
        .select("vec_a", "vec_b", "cos")
        .orderBy("vec_a", "vec_b")
    }
    val baseline = shape().collect().toSeq
    assert(baseline.nonEmpty, "parity baseline must be non-trivial")
    s.experimental.extraOptimizations = Seq(SimilarityBandRewrite)
    s.conf.set(SimilarityBandRewrite.MinSideBytesKey, "1")
    try {
      val df = shape()
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("ref_angle"), s"rewrite did not fire:\n$opt")
      assert(df.collect().toSeq == baseline)
      // and it fires on q77's exact production shape too
      val q77opt = operators.TextPipeline.q77(s, d)
        .queryExecution.optimizedPlan.toString
      assert(q77opt.contains("ref_angle"))
    } finally {
      s.experimental.extraOptimizations = Nil
      s.conf.unset(SimilarityBandRewrite.MinSideBytesKey)
    }
  }

  test("SimilarityBandRewrite does NOT fire below the size threshold or on equi joins") {
    s.experimental.extraOptimizations = Seq(SimilarityBandRewrite)
    try {
      // default minSideBytes = 1 GiB >> sf0.001 inputs → no rewrite
      val opt = operators.TextPipeline.q77(s, d).queryExecution.optimizedPlan.toString
      assert(!opt.contains("ref_angle"))
      // an equi-keyed join with a cosine filter is already hash-joinable —
      // must be left alone even when the size gate is forced open
      s.conf.set(SimilarityBandRewrite.MinSideBytesKey, "1")
      CosineSim.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val equi = e.select(col("label"), col("vec_id").as("ia"), col("v").as("va"))
        .join(e.select(col("label"), col("vec_id").as("ib"), col("v").as("vb")), "label")
        .filter(expr("cosine_sim(va, vb)") >= 0.5)
      assert(!equi.queryExecution.optimizedPlan.toString.contains("ref_angle"))
      // a cast outside the monotone whitelist (double→int) in the wrapper
      // must keep the rewrite off — only widening/to-double casts are
      // provably monotone for the bisection bound
      val nonMono = e.select(col("vec_id").as("ia"), col("v").as("va"))
        .join(e.select(col("vec_id").as("ib"), col("v").as("vb")),
          col("ia") < col("ib"))
        .filter(expr("CAST(cosine_sim(va, vb) * 1000 AS INT)") >= 400)
      assert(!nonMono.queryExecution.optimizedPlan.toString.contains("ref_angle"))
    } finally {
      s.experimental.extraOptimizations = Nil
      s.conf.unset(SimilarityBandRewrite.MinSideBytesKey)
    }
  }

  test("GraftExtensions wires functions AND the rewrite rule into a session (SQL path)") {
    import org.apache.spark.sql.SparkSession
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, fresh session built THROUGH the extensions hook —
      // the production `spark.sql.extensions=graft.plans.GraftExtensions` path
      val ext = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions().apply(_))
        .getOrCreate()
      assert(ext ne base)
      // functions registered without any manual register() call
      val one = ext.sql(
        "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
          "ref_angle(array(0.0d, 1.0d)) a").head()
      assert(one.getDouble(0) == 1.0 && math.abs(one.getDouble(1) - math.Pi / 2) < 1e-12)
      // and the optimizer rule fires on a pure-SQL all-pairs cosine join
      ext.conf.set(graft.plans.SimilarityBandRewrite.MinSideBytesKey, "1")
      Tables.embeddings(ext, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .createOrReplaceTempView("emb")
      val df = ext.sql(
        """SELECT a.vec_id va, b.vec_id vb
          |FROM emb a JOIN emb b
          |ON a.vec_id < b.vec_id AND cosine_sim(a.v, b.v) >= 0.4""".stripMargin)
      assert(df.queryExecution.optimizedPlan.toString.contains("ref_angle"),
        "extensions-injected rewrite did not fire on the SQL path")
      assert(df.count() == 66) // the exact pair count at this threshold/SF
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("cosine_sim: length mismatch raises in BOTH interpreted and codegen paths; zero norm → 0.0") {
    // interpreted
    val arr2 = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    val arr1 = Literal.create(Seq(1.0), ArrayType(DoubleType))
    val zero = Literal.create(Seq(0.0, 0.0), ArrayType(DoubleType))
    intercept[IllegalArgumentException] { CosineSim(arr2, arr1).eval(null) }
    assert(CosineSim(zero, arr2).eval(null) == 0.0)
    // codegen (whole-stage over a DataFrame)
    CosineSim.register(s)
    val sp = TestSpark.spark
    import sp.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val ex = intercept[Exception] { df.select(expr("cosine_sim(a, b)")).collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("length mismatch")), s"unexpected failure: $ex")
    val z = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("c")).head().getDouble(0)
    assert(z == 0.0)
  }

  test("bucketed-bucketed equi join plans with ZERO shuffle (co-located by write)") {
    // bucket both sides on the join key at write time; the join must then
    // read both pre-partitioned — no Exchange anywhere in the plan
    sources.Sources.writeBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", 4, Seq("o_orderkey"))
    sources.Sources.writeBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
      "b_lineitem", 4, Seq("l_orderkey"))
    // broadcast would bypass bucketing at toy scale — disable it to get the
    // plan the same join gets at 100 TB, where neither side broadcasts
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s.table("b_lineitem")
        .join(s.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan did not use bucketing:\n$plan")
      // and it computes the right thing
      val expected = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.orderBy("l_orderkey", "l_quantity", "o_custkey").collect().toSeq ==
        expected.orderBy("l_orderkey", "l_quantity", "o_custkey").collect().toSeq)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS b_orders")
      s.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("q190/q196: ONE data exchange feeds the whole extremum chain (window over the partkey partitioning)") {
    // The per-part min/total is a WINDOW over the already-partitioned
    // aggregate, not a second aggregate — a second agg plans a second
    // lineitem scan (the subplans differ, so ReusedExchange can't fire).
    // One shuffle Exchange for q190; q196 adds exactly one more for the
    // qualifying-supplier distinct. Everything else must be broadcast.
    val p190 = planOf(operators.Workloads.q190(s, d))
    val shuffles190 = "(?<!Broadcast)Exchange".r.findAllIn(
      p190.replace("BroadcastExchange", "BX")).length
    assert(shuffles190 == 1, s"q190 should shuffle exactly once:\n$p190")
    assert(p190.contains("Window"), "q190 min must be a window, not a re-agg")
    // q196: partkey repartition + suppkey distinct + the output sort's
    // range partitioning = 3; anything more means the window degraded
    // back to a re-aggregating second scan
    val p196 = planOf(operators.Workloads.q196(s, d))
    val shuffles196 = "(?<!Broadcast)Exchange".r.findAllIn(
      p196.replace("BroadcastExchange", "BX")).length
    assert(shuffles196 <= 3, s"q196 should shuffle at most 3 times:\n$p196")
  }

  test("q39 interval join is equi-planned on (user, cell): SMJ when broadcast is off") {
    // At test SF the optimizer rightly broadcasts the small side (no hint in
    // the query). The 100 TB shape is what matters: with broadcast disabled
    // (= fact-sized stats), the SAME plan must become a shuffled equi join
    // on (user, cell) — never a nested loop over the interval predicate.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = operators.Joins.q39(s, d).queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"interval join lost its equi keys:\n$p")
      assert(!p.contains("NestedLoop"), s"interval join fell back to a nested loop:\n$p")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("AQE coalesces shuffle partitions at runtime on a small aggregation") {
    // The runtime re-plan path the 100 TB configs rely on: the static plan
    // asks for the session's shuffle-partition count; after the map stage
    // reports actual sizes, AQE merges the tiny partitions into fewer reads.
    val df = Tables.orders(s, d).groupBy("o_orderpriority").count()
    df.collect() // adaptive plan finalizes only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"AQE did not coalesce the shuffle read:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (the hot-key guard)") {
    // The OTHER half of the skew story beside salted aggregation: for JOINS,
    // no rewrite is needed — AQE's OptimizeSkewedJoin splits an oversized
    // partition into parallel sub-reads at runtime. Build a join where one
    // key owns ~all left rows, force a shuffle join, and drop the skew
    // thresholds so the test corpus qualifies; the finalized plan must mark
    // the sort-merge join as skew-handled.
    val sp = s
    import sp.implicits._
    // NOTE: no explicit repartition — OptimizeSkewedJoin refuses to split a
    // user-specified (REPARTITION_BY_NUM) shuffle; the join's own
    // ENSURE_REQUIREMENTS exchange is the one it may rewrite
    val hot = (1 to 50000).map(i => (if (i % 100 == 0) i.toLong else 7L, i.toLong))
    val left = hot.toDF("k", "v")
    val right = (1L to 500L).map(k => (k, s"dim_$k")).toDF("k", "name")
    Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB"
    ).foreach { case (k, v) => sp.conf.set(k, v) }
    try {
      val j = left.join(right, "k")
      j.collect() // adaptive plan finalizes only after execution
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join partition for splitting:\n$plan")
    } finally Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    ).foreach(sp.conf.unset)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB scan-reduction path for shuffle joins (broadcast joins get
    // DPP instead): a selective dim-side predicate should inject a
    // bloom-filter semi-filter on the fact scan. Thresholds are sized for
    // real clusters, so open the gates at test scale and assert the
    // mechanism itself fires.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_totalprice")
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"runtime bloom filter did not inject:\n$opt")
      // and it must not change results
      assert(j.count() ==
        li.join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("Tables memo: session-scoped views, cached-plan reuse, release() cleans up") {
    def memoViews(sess: org.apache.spark.sql.SparkSession): Seq[String] =
      sess.catalog.listTables().collect().toSeq.map(_.name)
        .filter(_.startsWith("graft_memo_"))
    val s2 = s.newSession()
    val e1 = Tables.events(s, d)
    // the memo lives in s's own catalog, invisible to s2 (session-scoped)
    assert(memoViews(s).nonEmpty, "memo view missing from owning session")
    assert(memoViews(s2).isEmpty, "memo view leaked into a fresh session")
    // within-session reuse: the second call resolves to the cached plan
    assert(Tables.events(s, d).queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      "second lookup did not hit the session cache")
    // (no `e1 ne e2` object-identity check: memoized() returns a fresh
    // DataFrame per call, so reference inequality can never fail — the
    // memoViews(s2).isEmpty assertion above is the real leak detector)
    val e2 = Tables.events(s2, d)
    assert(e2.count() == 1000)
    // release() drops only the target session's views (+ their cache entries)
    Tables.release(s2)
    assert(memoViews(s2).isEmpty, "release left memo views behind")
    assert(memoViews(s).nonEmpty, "release touched another session's views")
    assert(Tables.events(s2, d).count() == 1000, "rebuild after release failed")
    // row counts (q209's size probe) live in the session's value memo;
    // release() must clear them too, and only in its own session
    val rcKey = Tables.memoName(d, "rows_embeddings")
    Tables.memoizedCount(s, d, "embeddings")
    Tables.memoizedCount(s2, d, "embeddings")
    Tables.release(s2)
    assert(!Tables.valueKeys(s2).contains(rcKey),
      "release left rowcount memos behind")
    assert(Tables.valueKeys(s).contains(rcKey),
      "release cleared another session's rowcount memo")
    // flags (the ALS id-range probe) share the value memo's lifecycle:
    // computed once, memo-read after, cleared by release
    var evals = 0
    def probe() = Tables.value(s2, Tables.memoName(d, "relTestFlag")) { evals += 1; true }
    assert(probe() && probe() && evals == 1,
      "flag memo must compute once and memo-read after")
    assert(!Tables.valueKeys(s).contains(Tables.memoName(d, "relTestFlag")),
      "a flag memo leaked into another session")
    Tables.release(s2)
    assert(probe() && evals == 2, "release must clear flag memos")
    // prefix-scan bounds: an entry made in s2 is invisible to s, and
    // release(s2) drops it
    graft.api.Graft.prefixSum(s2.range(137).toDF("__relx").withColumn("__relv", lit(1L)),
      "__relx", Seq("__relv"))
    val bounds = Tables.valueKeys(s2).filter(_.startsWith("bounds."))
    assert(bounds.nonEmpty, "prefixSum made no bounds entry")
    assert((bounds & Tables.valueKeys(s)).isEmpty, "a bounds memo leaked into another session")
    Tables.release(s2)
    assert((bounds & Tables.valueKeys(s2)).isEmpty, "release left bounds memos behind")
  }

  test("schema memo: a rewritten table reads its new schema, release forgets, nanosAsLong keys apart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_schema_memo")
    val s2 = s.newSession()
    def schemaKeys = Tables.valueKeys(s2).filter(_.startsWith("graft_memo_schema_"))
    // one parquet file per version, copied over the same table path — the
    // single-file layout of the corpora
    def version(name: String, df: org.apache.spark.sql.DataFrame) = {
      df.coalesce(1).write.parquet(s"$tmp/$name")
      java.nio.file.Files.list(tmp.resolve(name)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
    }
    val v1 = version("v1", s2.range(3).toDF())
    val v2 = version("v2", s2.range(3).withColumn("added", col("id") * 2))
    val target = tmp.resolve("region.parquet")
    def install(v: String) = java.nio.file.Files.copy(java.nio.file.Paths.get(v),
      target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    install(v1)
    assert(Tables.table(s2, tmp.toString, "region").columns.toSeq == Seq("id"))
    install(v2)
    val t = Tables.table(s2, tmp.toString, "region")
    assert(t.columns.toSeq == Seq("id", "added"),
      "a table rewritten at the same path was read with its old schema")
    assert(t.agg(sum("added")).head().getLong(0) == 6L)
    assert(schemaKeys.size == 2, s"one entry per file state expected: $schemaKeys")
    Tables.release(s2)
    assert(schemaKeys.isEmpty, "release left schema memos behind")
    // nanosAsLong changes what inference returns for a timestamp[ns] ts,
    // so each of its values keeps its own events entry
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try for (v <- Seq("true", "false")) {
      s2.conf.set(nanos, v)
      Tables.table(s2, d, "events")
    } finally s2.conf.unset(nanos)
    assert(schemaKeys.map(_.split('.').last) == Set("true", "false"),
      s"events schema entries: $schemaKeys")
    Tables.release(s2)
  }

  test("construction-job gate: a second build of each key runs no Spark job outside the named keys") {
    // q170's pool collect() is the MMR algorithm's driver step: the
    // greedy re-rank runs on the driver over the collected candidates
    val allowed = Probe.constructionJobKeys + "q170_mmr_rerank"
    val sc = s.sparkContext
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("gate:"))
          .foreach(g => jobs.add(g.stripPrefix("gate:")))
    }
    val keys = SparkEntry.queries.keys.toSeq.sorted
    Tables.release(s)
    keys.foreach(k => SparkEntry.queries(k)(s, d))
    sc.addSparkListener(listener)
    try {
      keys.foreach { k =>
        sc.setJobGroup(s"gate:$k", k)
        SparkEntry.queries(k)(s, d)
      }
      // listener events arrive in order: once this job's start is seen,
      // every earlier one has been delivered
      sc.setJobGroup("gate:~end", "end")
      s.range(1).count()
      val deadline = System.nanoTime() + 60000000000L
      while (!jobs.contains("~end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("~end"), "listener never saw the end marker job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Tables.release(s)
    }
    val ran = jobs.toArray.map(_.toString).toSet - "~end"
    assert(ran.nonEmpty, "no build job attributed to any key: the gate counts nothing")
    assert(ran.subsetOf(allowed),
      s"construction jobs in keys outside the named set: ${(ran -- allowed).toSeq.sorted}")
  }

  test("spearmanSup_y has one builder: q243 and q210 share it in either order, and no size flag is corpus-keyed") {
    val s2 = s.newSession()
    val memo = Tables.memoName(d, "spearmanSup_y")
    def inOrder(q243First: Boolean) = {
      Tables.release(s2)
      val run = Seq("q243" -> (operators.Analytics.q243 _),
        "q210" -> (operators.Analytics.q210 _))
      val out = (if (q243First) run else run.reverse)
        .map { case (k, q) => k -> q(s2, d).collect().toSeq }.toMap
      (out, s2.table(memo).schema)
    }
    try {
      val (a, schemaA) = inOrder(q243First = true)
      val (b, schemaB) = inOrder(q243First = false)
      assert(a == b, "q210/q243 outputs depend on which built the shared memo")
      assert(schemaA == schemaB, s"cached spearmanSup_y schema: $schemaA vs $schemaB")
      assert(schemaA.fieldNames.toSeq == Seq("rf", "y", "t"))
      val keys = Tables.valueKeys(s2)
      val flags = keys.filter(k => k.startsWith("graft_memo_") && k.contains("Small"))
      assert(flags.isEmpty, s"a corpus-keyed size flag is back: $flags")
      assert(keys.exists(_.startsWith("rows.")),
        "the rank sides' row counts must be kept under their support's plan hash")
    } finally Tables.release(s2)
  }

  test("Tables.events: UTC is baked at analysis, the caller's timezone is restored") {
    // the loader pins UTC only while BUILDING the plan (Spark resolves
    // timezone-aware casts against the session tz at analysis); a session
    // that loads events must not find its timezone permanently switched,
    // and the ts rebuild must stay UTC-correct even when materialized
    // AFTER the restore
    val dir = java.nio.file.Files.createTempDirectory("graft_tz_fix").toString
    val s2 = s.newSession()
    s2.sql(
      """SELECT TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts, 1L AS event_id,
        |  42L AS user_id, 'view' AS event_type, 1.0e0 AS value,
        |  '{}' AS props""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ev = Tables.events(s2, dir)
      assert(s2.conf.get("spark.sql.session.timeZone") == "America/New_York",
        "events loader leaked its UTC pin into the session")
      // NY would put noon-naive at 17:00 UTC (1704128400); baked UTC keeps it
      val t = ev.select("ts").head().getLong(0)
      assert(t == 1704110400L * 1000000000L,
        s"ts rebuilt under the wrong timezone: $t")
    } finally {
      s2.conf.unset("spark.sql.session.timeZone")
      Tables.release(s2)
    }
  }

  test("Tables.events: the memo caches ts only; tsc is derived the same under any session zone") {
    // one fixture per stored schema, each with pre-epoch rows (a whole
    // second and a sub-microsecond instant before 1970)
    val root = java.nio.file.Files.createTempDirectory("graft_tsc_fix").toString
    val s2 = s.newSession()
    val nsTs = Seq(1704067284496499000L, 0L, -500000000L, -1500L, 86399999999000L)
    import s2.implicits._
    nsTs.zipWithIndex.map { case (t, i) => (t, i.toLong, 42L + i, "view", 1.0, "{}") }
      .toDF("ts", "event_id", "user_id", "event_type", "value", "props")
      .write.parquet(s"$root/ns/events.parquet")
    s2.sql(
      """SELECT ts, event_id, 7L AS user_id, 'view' AS event_type, 1.0e0 AS value,
        |  '{}' AS props FROM VALUES
        |  (TIMESTAMP_NTZ '2024-01-01 00:01:24.496499', 0L),
        |  (TIMESTAMP_NTZ '1969-12-31 23:59:59.5', 1L),
        |  (TIMESTAMP_NTZ '1969-12-31 23:59:59.999999', 2L),
        |  (TIMESTAMP_NTZ '1900-03-01 12:00:00', 3L) AS v(ts, event_id)""".stripMargin)
      .write.parquet(s"$root/us/events.parquet")
    // the UTC `timestamp_micros(ts div 1000)` civil value, computed on the
    // driver (Scala's `/` truncates like Spark's `div`)
    def utcCivil(ns: Long) = java.time.LocalDateTime.ofInstant(
      java.time.Instant.EPOCH.plus(ns / 1000, java.time.temporal.ChronoUnit.MICROS),
      java.time.ZoneOffset.UTC)
    try for (dir <- Seq(s"$root/ns", s"$root/us"); tz <- Seq("Asia/Kolkata", "America/Los_Angeles")) {
      Tables.release(s2)
      s2.conf.set("spark.sql.session.timeZone", tz)
      val ev = Tables.events(s2, dir)
      assert(ev.columns.last == "tsc", s"tsc must stay the last column: ${ev.columns.toSeq}")
      assert(!s2.table(Tables.memoName(dir, "events")).columns.contains("tsc"),
        "the events memo caches tsc beside ts")
      val conf = s2.conf.getAll
      val rows = Tables.events(s2, dir).select("event_id", "ts", "tsc").collect()
      assert(s2.conf.getAll == conf, "a warm events() call changed a session conf")
      rows.foreach { r =>
        assert(r.getAs[java.time.LocalDateTime]("tsc") == utcCivil(r.getLong(1)),
          s"$dir under $tz: event ${r.getLong(0)} ts=${r.getLong(1)} tsc=${r.get(2)}")
      }
      if (dir.endsWith("us")) assert(rows.sortBy(_.getLong(0)).map(_.get(2).toString).toSeq ==
        Seq("2024-01-01T00:01:24.496499", "1969-12-31T23:59:59.500",
          "1969-12-31T23:59:59.999999", "1900-03-01T12:00"),
        s"µs fixture under $tz: ${rows.toSeq}")
      else assert(rows.length == nsTs.length)
    } finally {
      s2.conf.unset("spark.sql.session.timeZone")
      Tables.release(s2)
    }
  }

  test("q161 reads q78's classifier once and creates no memo view of its own") {
    val s2 = s.newSession()
    Tables.release(s2)
    try {
      val before = s2.catalog.listTables().collect().map(_.name).toSet
      operators.TextPipeline.q161(s2, d).collect()
      val made = s2.catalog.listTables().collect().map(_.name).toSet -- before
      assert(!made.exists(_.toLowerCase.contains("langpredpairs")),
        s"q161 made a langPredPairs memo: $made")
    } finally Tables.release(s2)
  }

  test("footer schema: equals spark.read.parquet's inference for every table, under both nanosAsLong values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer").toString
    val s2 = s.newSession()
    // a Spark-written directory: several part files, _SUCCESS, .crc, and
    // Spark's row metadata in each footer
    s2.range(40).selectExpr("id", "cast(id as string) AS s", "array(id) AS a",
        "named_struct('x', id * 0.5e0) AS st", "TIMESTAMP_NTZ '2024-01-01 00:00:00' AS t")
      .repartition(3).write.parquet(s"$tmp/multi.parquet")
    val paths = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events").map(t => s"$d/$t.parquet") :+
      s"$tmp/multi.parquet"
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try for (v <- Seq("true", "false"); p <- paths) {
      s2.conf.set(nanos, v)
      val path = new org.apache.hadoop.fs.Path(p)
      val files = path.getFileSystem(s2.sessionState.newHadoopConf()).listStatus(path)
      // a user-given schema is read as nullable, as inference reads it
      assert(s2.read.schema(Tables.footerSchema(s2, path, files)).parquet(p).schema ==
        s2.read.parquet(p).schema, s"$p with $nanos=$v")
    } finally s2.conf.unset(nanos)
  }

  test("q117 gapFill: only the calendar spine is forced-broadcast; the fill join shuffles") {
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(operators.Analytics.q117(s, d))
      // exactly one BroadcastExchange survives with auto-broadcast off: the
      // sequence-exploded spine (calendar-sized by construction). The
      // left-outer fill join must NOT broadcast the fact-proportional
      // hourly aggregate — it shuffles on (keys, time).
      assert("BroadcastExchange".r.findAllMatchIn(plan).size == 1,
        s"expected exactly the spine broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"fill join must shuffle with auto-broadcast off:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q137 covisit: interval join stays an equi join with auto-broadcast off") {
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the bucketed interval join must plan as an EQUI join on
      // (user, cell) — at fact scale a theta fallback (BNLJ/cartesian)
      // would be the quadratic scale-killer the banding exists to avoid
      val plan = planOf(operators.Recommender.q137(s, d))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"covisit candidates must equi-join on (user, cell):\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"covisit must never fall back to a quadratic join:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q146 daily panel: contribution explode + equi joins, no quadratic day join") {
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(operators.Windows.q146(s, d))
      // intervals must EXPLODE to covered days (a Generate), and the
      // spine fill must be an equi join — a day×interval range join
      // (BNLJ) would rescan the interval relation per day at scale
      assert(plan.contains("Generate"), "q146 must explode interval days")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"q146 must not plan a quadratic day join:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q120/q121: no forced broadcasts, no cartesian products in the audit/rolling shapes") {
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // refIntegrity carries no hints — parents may be fact-sized in
      // general, so with auto-broadcast off everything must shuffle
      val fk = planOf(operators.Analytics.q120(s, d))
      assert(!fk.contains("BroadcastExchange"), s"q120 must not force a broadcast:\n$fk")
      // rolling WAU: contribution explode (a Generate), equi joins only
      val au = planOf(operators.Analytics.q121(s, d))
      assert(au.contains("Generate"), "q121 must explode contributions")
      assert(!au.contains("CartesianProduct") && !au.contains("BroadcastNestedLoopJoin"),
        s"q121 must stay equi-join shaped:\n$au")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q111 LATERAL decorrelates to a window top-k, never per-row re-execution") {
    val plan = planOf(operators.Workloads.q111(s, d))
    assert(plan.contains("WindowGroupLimit"),
      "correlated LATERAL LIMIT should plan as a rank-pushdown window top-k")
    assert(!plan.contains("CartesianProduct"),
      "lateral join must not fall back to a cartesian re-execution")
  }

  test("components fixpoint keeps its plan truncated (no per-round lineage pile-up)") {
    // Before the localCheckpoint fix the final labels plan embedded every
    // prior round (~1000 Exchange nodes at 20 rounds); with per-round
    // truncation it must stay a small constant regardless of round count.
    Tables.release(s) // drop any memoized comp20 so the loop really runs
    val plan = planOf(operators.Curation.components(s, d, maxRounds = 20))
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges < 15,
      s"components plan carries $exchanges shuffles — per-round lineage is accumulating again")
  }

  test("BroadcastGuard fails fast on an oversized forced broadcast, passes dims, defaults off") {
    import org.apache.spark.sql.SparkSession
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions().apply(_))
        .getOrCreate()
      val fact = Tables.lineitem(ext, d)
      val forced = fact.join(broadcast(Tables.orders(ext, d)),
        col("l_orderkey") === col("o_orderkey"))
      // guard off (default): the forced broadcast runs
      assert(forced.count() == 6000L)
      // guard on with a 1 KB limit: the same plan must fail fast at the
      // driver with the guard's message, not OOM executors mid-broadcast
      ext.conf.set("spark.graft.broadcastGuard.maxBytes", "1024")
      val err = intercept[Exception] { forced.count() }
      def guardMsg(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("broadcast guard")) ||
          guardMsg(t.getCause))
      assert(guardMsg(err), s"expected the guard's error, got: $err")
      // a genuinely dimension-sized broadcast stays under any sane limit
      ext.conf.set("spark.graft.broadcastGuard.maxBytes", (16L * 1024 * 1024).toString)
      assert(operators.Joins.q10(ext, d).count() == 25L)
      ext.conf.unset("spark.graft.broadcastGuard.maxBytes")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("AQE reuses a duplicated exchange over a parquet scan but never over a cached relation") {
    // The Spark behaviour the hand-placed shared memos exist for: a
    // subtree referenced twice above a cached relation runs twice, because
    // AQE's exchange reuse does not fire there. A Spark upgrade that
    // changes either side of this makes those memos worth revisiting.
    def census(base: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val agg = base.groupBy("user_id").count()
      val df = agg.join(agg.withColumnRenamed("count", "m")
          .withColumnRenamed("user_id", "u2"), col("user_id") === col("u2"))
        .agg(sum("count"), sum("m"))
      df.collect()
      val plan = planOf(df)
      ("ReusedExchange".r.findAllIn(plan).size,
        "TableCacheQueryStage".r.findAllIn(plan).size)
    }
    assert(census(Tables.table(s, d, "events")) == ((1, 0)))
    // both references really read the cache (non-vacuity), and neither
    // reuses the other's exchange
    assert(census(Tables.events(s, d)) == ((0, 2)))
  }

  test("inventory-wide sweep: no accidental CartesianProduct in any query plan") {
    // Planning (not executing) every key at sf0.001 and rejecting any
    // shuffle-based cartesian: an unhinted cross of two fact-proportional
    // relations is the classic silent scale-killer, and this sweep means a
    // future query can't ship one by accident. q18 is the deliberate
    // cartesian (125-row region×nation count). Iterative/model queries
    // execute jobs during CONSTRUCTION (ALS fits, fixpoint loops), so they
    // are excluded here for test-time — each already has its own plan or
    // quantitative coverage.
    val skip = Probe.constructionJobKeys + "q18_join_cross"
    val offenders = SparkEntry.queries.filterNot(kv => skip(kv._1)).flatMap {
      case (name, fn) =>
        val plan = fn(s, d).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"shuffle-based cartesian in: ${offenders.mkString(", ")}")
  }

  test("inventory-wide sweep: no unpartitioned Window over an unbounded input") {
    // An unpartitioned Window is planned as a SINGLE partition holding its
    // whole input — fine for calendar/dimension/block-count relations,
    // fatal for anything fact-proportional (the r5 q136/q145/q152 defect
    // class). This lint walks every optimized plan and, for each Window
    // with no partition expressions, counts its actual input at sf0.001:
    // every fact-proportional relation here (documents 500, events 1000,
    // orders 1500, lineitem 6000) exceeds 256 rows, while every legitimate
    // global-window input (nations 25, suppliers 10, 31-day calendars,
    // ≤32 prefix-scan blocks, ≤100-item catalogs) stays under it.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val skip = Probe.constructionJobKeys
    // Documented exemptions — global windows whose input is bounded by a
    // DOMAIN, not by the fact count, but which exceeds the threshold at
    // this SF: q34's moving average runs over the daily o_orderdate grain,
    // capped at the ~2.4k-day order-date calendar no matter the fact scale
    // (a sliding frame, so the prefix-scan decomposition doesn't apply);
    // q208's lag-7/lag-1 forecast windows run over the same ~2.4k-day
    // l_shipdate calendar (fixed-offset lags — also not prefix-scannable);
    // q212's ACF lag-1..7 windows run over that same day calendar, and
    // q247's cross-correlation lead/lag ±7 windows over the joined
    // shipdate∩orderdate calendar (same fixed-offset-lag class).
    val exempt = Set("q34_window_moving_avg", "q208_mase_backtest",
      "q212_acf_weekly", "q247_cross_corr", "q255_rolling_median")
    val limit = 256L
    val offenders = SparkEntry.queries
      .filterNot(kv => skip(kv._1) || exempt(kv._1)).toSeq
      .sortBy(_._1).flatMap { case (name, fn) =>
        val opt = fn(s, d).queryExecution.optimizedPlan
        val globals = opt.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        globals.flatMap { w =>
          val n = s.sessionState.executePlan(w.child).executedPlan
            .execute().count()
          if (n > limit) Some(s"$name (global-window input: $n rows)") else None
        }
      }
    assert(offenders.isEmpty,
      s"unpartitioned Window over a fact-proportional input in:\n  ${offenders.mkString("\n  ")}")
  }

  test("inventory-wide sweep: no partitioned-but-WIDE Window (few partition values over a fact-proportional input)") {
    // The r8/r9 defect class the unpartitioned sweep cannot see: a Window
    // partitioned by a FEW-valued column (3 return flags, 2 arms) over a
    // fact-proportional input plans one task PER VALUE at any scale —
    // pre-migration q149 (3 flags × distinct-price series) and q209
    // (64 dims × full corpus) were exactly this shape. For each Window
    // with a non-empty partitionSpec whose input exceeds the row
    // threshold, count the DISTINCT partition values at sf0.001 and flag
    // anything under 8 — wide real partitionings (custkey, user_id,
    // (dim, value) supports) sail past 8 even at this SF, while a
    // few-wide-groups plan can never reach it at ANY SF.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Aggregate}
    import org.apache.spark.sql.catalyst.expressions.Alias
    val skip = Probe.constructionJobKeys
    // Documented exemptions — few-valued partitionings whose INPUT is
    // bounded by a domain (calendar × a category), not by the fact count,
    // so the per-task series cannot grow with SF:
    // (populated after the first sweep; keep empty if none qualify)
    val exempt = Set.empty[String]
    val rowLimit = 256L
    val minGroups = 8L
    // The range-block facades (Graft.prefixSum/prefixMax/groupedPrefixSum)
    // partition their local windows by `__blk`, whose value count IS
    // spark.sql.shuffle.partitions — 4 under this test config, cluster-
    // sized in production. That is the designed-parallel decomposition
    // this lint exists to push queries TOWARD, so any window keyed (in
    // part) on __blk is structurally exempt rather than name-exempt.
    def isBlockWindow(w: LWindow): Boolean =
      w.partitionSpec.exists(_.references.exists(_.name == "__blk"))
    val offenders = SparkEntry.queries
      .filterNot(kv => skip(kv._1) || exempt(kv._1)).toSeq
      .sortBy(_._1).flatMap { case (name, fn) =>
        val opt = fn(s, d).queryExecution.optimizedPlan
        val wins = opt.collect {
          case w: LWindow if w.partitionSpec.nonEmpty && !isBlockWindow(w) => w }
        wins.flatMap { w =>
          val n = s.sessionState.executePlan(w.child).executedPlan
            .execute().count()
          if (n <= rowLimit) None
          else {
            val aliased = w.partitionSpec.zipWithIndex.map { case (e, i) =>
              Alias(e, s"__p$i")() }
            val g = s.sessionState
              .executePlan(Aggregate(aliased, aliased, w.child))
              .executedPlan.execute().count()
            if (g < minGroups)
              Some(s"$name (window: $g partition values over $n input rows)")
            else None
          }
        }
      }
    assert(offenders.isEmpty,
      s"few-wide-groups Window over a fact-proportional input in:\n  ${offenders.mkString("\n  ")}")
  }

  test("inventory-wide sweep: every BroadcastNestedLoopJoin's broadcast side is bounded") {
    // A BNLJ compares every probe row against the ENTIRE broadcast side —
    // sound only while the broadcast relation is bounded by construction
    // (the one-row stats crossJoin, a ≤50-row candidate list, a dimension).
    // This lint proves that claim for every key the same way the window
    // lint does: walk each executed plan, find the broadcast child of each
    // BNLJ, execute it, and reject anything fact-proportional (>256 rows
    // at sf0.001 — facts are 500+). q18 is the deliberate cross join but
    // its broadcast side is the 25-row nation dim, so it passes unskipped.
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val skip = Probe.constructionJobKeys
    // Documented exemptions — broadcast sides that exceed the threshold but
    // are NOT fact-proportional (or are the marked baseline):
    // - q117 gapFill broadcasts the calendar spine (~720 hour rows): sized
    //   by the time RANGE (days×24), identical at every SF — the design is
    //   precisely that the calendar side broadcasts and the key side stays
    //   partitioned (see Graft.gapFill's spine-broadcast test above).
    // - q77 is the documented exact all-pairs cosine BASELINE (its scaladoc
    //   points to q85/IVF as the scale path, and SimilarityBandRewrite
    //   rewrites this very shape to a banded equi join once a side crosses
    //   spark.graft.similarityRewrite.minSideBytes).
    // - q213 broadcasts the year's day-grain revenue series (≤366 rows at
    //   EVERY SF — bounded by the calendar domain, not the fact count) for
    //   the Theil-Sen pairwise-slope join; same class as q117's spine.
    val exempt = Set("q117_gap_fill_hourly", "q77_dedup_cosine_nn",
      "q213_theilsen_trend")
    val limit = 256L
    // AQE off for this sweep: under AQE the executedPlan is an opaque
    // AdaptiveSparkPlanExec leaf (collect finds nothing — the lint would
    // pass VACUOUSLY) and its unfinalized stage subtrees can't be executed
    // directly. The static plan is the pessimistic one anyway: AQE can only
    // demote/refine these joins at runtime, never introduce a bigger BNLJ.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var found = 0
      val offenders = SparkEntry.queries
        .filterNot(kv => skip(kv._1) || exempt(kv._1)).toSeq
        .sortBy(_._1).flatMap { case (name, fn) =>
          val plan = fn(s, d).queryExecution.executedPlan
          val bnljs = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
          found += bnljs.size
          bnljs.flatMap { j =>
            val build: SparkPlan = j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }
            // strip exchange wrappers (incl. ReusedExchange aliases) down to
            // the countable relation
            import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
            import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
            def strip(p: SparkPlan): SparkPlan = p match {
              case e: BroadcastExchangeExec => strip(e.child)
              case r: ReusedExchangeExec => strip(r.child)
              case i: InputAdapter => strip(i.child) // invisible in tree prints
              case w: WholeStageCodegenExec => strip(w.child)
              case other => other
            }
            val rel = strip(build)
            val n = try rel.execute().count() catch { case ex: Throwable =>
              fail(s"$name: BNLJ build side not countable: ${ex.getMessage}\n$rel")
            }
            if (n > limit) Some(s"$name (BNLJ broadcast side: $n rows)") else None
          }
        }
      // the sweep must actually SEE the inventory's BNLJs (≈38 plans carry
      // one) — zero found means the walk went vacuous, not that all is well
      assert(found >= 20, s"BNLJ sweep looks vacuous: only $found joins found")
      assert(offenders.isEmpty,
        s"fact-proportional BNLJ broadcast side in:\n  ${offenders.mkString("\n  ")}")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("inventory-wide sweep: every parquet scan is column-pruned (no full-width wide-table read)") {
    // The pruning rule made empirical: a scan that reads every column of a
    // wide table for a query that uses two of them ships several times the
    // bytes it needs at 100 TB, and nothing in the correctness gate would
    // ever notice. For each key, walk the executed plan's
    // FileSourceScanExec leaves and flag any scan whose requiredSchema is
    // the FULL dataSchema of a table with >= 5 columns (lineitem 11,
    // events 6, orders 6, part 6, customer 5, documents 5 —
    // region/nation/supplier/embeddings are narrow enough that full-width
    // reads carry no pruning signal). Memoized shared relations (the
    // events ns-decode, ratings) cache an explicit projection at build
    // time and appear as InMemoryTableScan leaves, invisible to this walk
    // by design: their one-time build width is the memo's documented
    // contract, and the in-memory scan itself prunes columns per query.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val skip = Probe.constructionJobKeys
    // Documented exemptions — queries whose semantics genuinely consume
    // every column of the wide table they scan:
    // (populate only with justification; empty means full pruning holds)
    val exempt = Set.empty[String]
    val minWidth = 5
    // AQE off for the same reason as the BNLJ sweep: under AQE the
    // executedPlan is an opaque AdaptiveSparkPlanExec leaf and the walk
    // would pass vacuously. Pruning is decided at static planning time.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var found = 0
      val offenders = SparkEntry.queries
        .filterNot(kv => skip(kv._1) || exempt(kv._1)).toSeq
        .sortBy(_._1).flatMap { case (name, fn) =>
          val plan = fn(s, d).queryExecution.executedPlan
          val scans = plan.collect { case f: FileSourceScanExec => f }
          found += scans.size
          scans.flatMap { f =>
            val tbl = f.relation.location.rootPaths.headOption
              .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
            val total = f.relation.dataSchema.size
            val read = f.requiredSchema.size
            if (total >= minWidth && read >= total)
              Some(s"$name ($tbl: reads $read/$total columns)")
            else None
          }
        }
      // the sweep must actually SEE file scans — most keys read at least
      // one base table directly (only the memo-fed ones go through cache)
      assert(found >= 100, s"pruning sweep looks vacuous: only $found scans found")
      assert(offenders.isEmpty,
        s"full-width wide-table scan in:\n  ${offenders.mkString("\n  ")}")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("salted aggregation spreads a hot key over >1 reducer bucket and stays exact") {
    // 50k-row hot key + uniform tail, deliberately skewed
    val hot = s.range(50000).select(lit("hot").as("k"), lit(1.0).as("v"))
    val tail = s.range(1000).select(concat(lit("k"), col("id")).as("k"), lit(2.0).as("v"))
    val df = hot.union(tail).repartition(8)
    // phase-1 view (same salt formula as Sources.saltedSum): the hot key's
    // partials must land in MULTIPLE salt buckets — that is the whole point
    val saltBuckets = 8
    val phase1 = df.select(col("k"), col("v"))
      .withColumn("salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
      .groupBy(col("k"), col("salt")).agg(sum("v").as("partial"))
    val hotSalts = phase1.filter(col("k") === "hot").select("salt").distinct().count()
    assert(hotSalts > 1, s"hot key landed in only $hotSalts salt bucket(s)")
    // and the two-phase result is exactly the direct aggregation
    val salted = sources.Sources.saltedSum(df, col("k"), col("v"), saltBuckets)
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val direct = df.groupBy("k").agg(sum("v").as("total"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(salted == direct)
  }
}
