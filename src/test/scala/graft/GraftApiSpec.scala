package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.Graft

/** The facade contract: each generic `graft.api.Graft` operator reproduces
  * the corresponding tuned corpus query exactly — so a user composing the
  * library on their own tables gets the same semantics (and the same
  * plans) the oracle-verified inventory runs. */
class GraftApiSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val d = TestSpark.sf0001

  test("topKPerGroup reproduces q30 (top-3 orders per customer)") {
    val api = Graft.topKPerGroup(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), 3, "rn")
      .select("o_custkey", "o_orderkey", "rn")
    val q30 = operators.Windows.q30(s, d).select("o_custkey", "o_orderkey", "rn")
    assert(api.except(q30).isEmpty && q30.except(api).isEmpty)
  }

  test("capPerKey: bot-filter recipe — bounds every key at n, keeps content-stable rows, no-ops under organic density") {
    val ev = Tables.events(s, d)
    // one synthetic bot user holding as many events as the rest combined
    val bot = ev.withColumn("user_id", lit(424242L))
      .withColumn("event_id", col("event_id") + lit(10000000L))
    val skewed = ev.unionAll(bot)
    val capped = Graft.capPerKey(skewed, Seq("user_id"), 50,
      Seq(col("ts"), col("event_id")))
    val perKey = capped.groupBy("user_id").count()
    assert(perKey.filter(col("count") > 50).isEmpty,
      "no key may exceed the cap")
    // content-stable selection: the kept set is the user's FIRST 50 events
    // by (ts, event_id) — layout-independent, so a repartitioned input
    // keeps the identical rows
    val again = Graft.capPerKey(skewed.repartition(7), Seq("user_id"), 50,
      Seq(col("ts"), col("event_id")))
    assert(capped.except(again).isEmpty && again.except(capped).isEmpty,
      "capPerKey selection must be layout-independent")
    // under organic density (max ~88 events/user at sf0.001) a generous
    // cap is the identity — the mitigation costs nothing when not needed
    val noop = Graft.capPerKey(ev, Seq("user_id"), 1000,
      Seq(col("ts"), col("event_id")))
    assert(noop.except(ev).isEmpty && ev.except(noop).isEmpty)
  }

  test("asofJoin reproduces q17 (latest order strictly before each event)") {
    val ev = Tables.events(s, d).select("event_id", "user_id", "tsc")
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("user_id"), col("o_orderkey"), col("o_orderdate"))
    val api = Graft.asofJoin(ev, o, keys = Seq("user_id"),
        leftTs = "tsc", rightTs = "o_orderdate",
        payload = Seq("o_orderkey"), strict = true)
      .filter(col("asof_o_orderkey").isNotNull) // q17 is inner (matched only)
      .select(col("event_id"), col("user_id"), col("tsc"),
        col("asof_o_orderkey").as("o_orderkey"),
        col("asof_o_orderdate").as("o_orderdate"))
    val q17 = operators.Joins.q17(s, d)
    assert(api.except(q17).isEmpty && q17.except(api).isEmpty)
  }

  test("sessionize reproduces q32's session assignment") {
    // same µs domain as q32 (truncate-then-subtract, SURVEY §1.3)
    val api = Graft.sessionize(
        Tables.events(s, d).withColumn("ts_us", expr("ts div 1000")),
        "user_id", "ts_us", gap = 1800000000L, tieBreak = Seq("event_id"))
      .select("user_id", "event_id", "session_id")
    val q32 = operators.Windows.q32(s, d).select("user_id", "event_id", "session_id")
    assert(api.except(q32).isEmpty && q32.except(api).isEmpty)
  }

  test("dedupFirst law: equals a driver first-per-key (null keys, null and tied orders)") {
    // the first row per (k1, k2) under (o asc nulls first, id): null keys
    // group together, o ties fall to the id
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(44)
    for (trial <- 0 until 4) {
      val rows = (0 until 10 + rnd.nextInt(60)).map { i =>
        (if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(4)),
          Seq("a", "b")(rnd.nextInt(2)),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(5).toLong), i.toLong)
      }
      val api = Graft.dedupFirst(rows.toDF("k1", "k2", "o", "id"), Seq("k1", "k2"),
          Seq(col("o"), col("id")))
        .select("k1", "k2", "id").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getString(1), r.getLong(2))).toSet
      val ref = rows.groupBy(r => (r._1, r._2)).values
        .map(_.minBy(r => (r._3, r._4))).map(r => (r._1, r._2, r._4)).toSet
      assert(api == ref, s"trial $trial: $rows")
    }
  }


  test("hashSample reproduces q94's stratified kept-set") {
    val api = Graft.hashSample(Tables.documents(s, d),
        col("doc_id"), when(col("lang") === "en", lit(10)).otherwise(lit(30)))
      .select("doc_id")
    val q94 = operators.Curation.q94(s, d).select("doc_id")
    assert(api.except(q94).isEmpty && q94.except(api).isEmpty)
  }

  test("intervalJoin reproduces q39 (same-user event pairs within 5 min)") {
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
    val a = e.select(col("event_id").as("ev_a"), col("user_id"), col("us").as("us_a"))
    val b = e.select(col("event_id").as("ev_b"), col("user_id"), col("us").as("us_b"))
    val api = Graft.intervalJoin(a, b, Seq("user_id"), "us_a", "us_b",
        300L * 1000000L, col("ev_a") < col("ev_b"))
      .select(col("user_id"), col("ev_a"), col("ev_b"),
        abs(col("us_a") - col("us_b")).as("gap_us"))
    val q39 = operators.Joins.q39(s, d)
    assert(api.count() > 0)
    assert(api.except(q39).isEmpty && q39.except(api).isEmpty)
  }

  test("chunkOverlap reproduces q46's chunk windows and hashes") {
    val words = Tables.documents(s, d).select(col("doc_id"),
      expr("filter(split(lower(text), ' '), w -> w != '')").as("words"))
    val api = Graft.chunkOverlap(words, "words", 64, 48)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_words"),
        sha2(array_join(col("chunk"), " "), 256).as("chunk_sha"))
    val q46 = operators.Curation.q46(s, d)
    assert(api.except(q46).isEmpty && q46.except(api).isEmpty)
  }

  test("asofJoin strict=false admits exact-timestamp matches; intervalJoin width=1 edges") {
    val sp = s
    import sp.implicits._
    val left = Seq((1L, "k", 100L)).toDF("id", "sym", "ts")
    val right = Seq(("k", 100L, 9.5), ("k", 99L, 9.0)).toDF("sym", "rts", "px")
    val strict = Graft.asofJoin(left, right, Seq("sym"), "ts", "rts",
      Seq("px"), strict = true).select("asof_px").head.getDouble(0)
    val atOrBefore = Graft.asofJoin(left, right, Seq("sym"), "ts", "rts",
      Seq("px"), strict = false).select("asof_px").head.getDouble(0)
    assert(strict == 9.0, "strict as-of must take the row BEFORE the timestamp")
    assert(atOrBefore == 9.5, "non-strict as-of must admit the equal-timestamp row")
    // width=1: only timestamps differing by ≤1 pair up, including equals
    val a = Seq((1L, "g", 10L), (2L, "g", 12L)).toDF("ida", "grp", "ta")
    val b = Seq((3L, "g", 10L), (4L, "g", 11L), (5L, "g", 14L)).toDF("idb", "grp", "tb")
    val pairs = Graft.intervalJoin(a, b, Seq("grp"), "ta", "tb", 1L)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (1L, 4L), (2L, 4L)))
    intercept[IllegalArgumentException] {
      Graft.intervalJoin(a, b, Seq("grp"), "ta", "tb", 0L)
    }
  }

  test("packSequences law: equals a driver running chunk count (nulls, tied orders)") {
    // rows tied on the order column carry equal tokens, so the running
    // count they see is the same whichever goes first: the multiset of
    // (group, order, tokens, cum_tokens, chunk) is exact
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(96)
    val budget = 8L
    for (trial <- 0 until 4) {
      val rows = (0 until 10 + rnd.nextInt(50)).map { _ =>
        val o = rnd.nextInt(15).toLong
        (if (rnd.nextInt(7) == 0) None else Some(Seq("x", "y")(rnd.nextInt(2))), o,
          if (o % 5 == 3) None else Some((o * 7 + 3) % 6))
      }
      val api = Graft.packSequences(rows.toDF("g", "o", "tok"), "g", "o", "tok", budget)
        .select("g", "o", "tok", "cum_tokens", "chunk_id").collect()
        .map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
      val ref = rows.groupBy(_._1).values.flatMap { g =>
        val sorted = g.sortBy(_._2)
        val cums = sorted.scanLeft(Option.empty[Long]) { (c, r) =>
          r._3.map(t => c.getOrElse(0L) + t).orElse(c) }.tail
        sorted.zip(cums).map { case ((grp, o, tok), cum) =>
          val chunk = for (c <- cum; t <- tok) yield math.floor((c - t).toDouble / budget).toLong
          Seq(grp, Some(o), tok, cum, chunk).map(_.fold("null")(_.toString))
        }
      }.toSeq.sortBy(_.mkString("|"))
      assert(api == ref, s"trial $trial: $rows")
    }
  }


  test("applyChanges: latest-wins upsert keeps newest version per key") {
    val sp = TestSpark.spark
    import sp.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "v", "ver")
    val changes = Seq((2L, "b2", 2L), (4L, "d", 1L), (2L, "b3", 3L)).toDF("k", "v", "ver")
    val merged = Graft.applyChanges(base, changes, Seq("k"), col("ver"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(merged == Map(1L -> ("a", 1L), 2L -> ("b3", 3L), 3L -> ("c", 1L), 4L -> ("d", 1L)))
  }

  test("connectedComponents on a hand graph: two clusters, exact minima") {
    val sp = TestSpark.spark
    import sp.implicits._
    // {1,2,3} chained through buckets a-b, {7,8} through c, 9 isolated
    val mem = Seq((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"),
      (7L, "c"), (8L, "c"), (9L, "z")).toDF("id", "bucket")
    val got = Graft.connectedComponents(mem, "id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
    // a 12-id chain (worst diameter) — pointer jumping must still reach the
    // exact minimum everywhere within the round budget
    val chain = (1L until 12L).flatMap(i => Seq((i, s"e$i"), (i + 1, s"e$i"))).toDF("id", "bucket")
    val chainGot = Graft.connectedComponents(chain, "id", "bucket", maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("ivfTopK reproduces q85's cell routing and neighbor sets") {
    val e = Tables.embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x").cast("double")).as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)").as("cvec"))
      .withColumnRenamed("label", "cell")
    val api = Graft.ivfTopK(
        e.select(col("vec_id").as("id"), col("v").as("vec"), col("label").as("cell")),
        cent,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("probe_vec")),
        k = 3)
      .select(col("probe_id"), col("cell"), col("id").as("cand_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val q85 = operators.TextPipeline.q85(s, d)
      .select("probe_id", "cell", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(api == q85)
  }

  test("cosineTopK reproduces q71 (top-5 neighbors for the 10 probes)") {
    val e = Tables.embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val api = Graft.cosineTopK(
        e.select(col("vec_id").as("id"), col("v").as("vec")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("probe_vec")),
        k = 5, corpusId = "id", corpusVec = "vec")
      .select(col("probe_id"), col("rank").as("rnk"), col("id").as("cand_id"))
    val q71 = operators.LlmPipeline.q71(s, d).select("probe_id", "rnk", "cand_id")
    assert(api.except(q71).isEmpty && q71.except(api).isEmpty)
  }

  test("bm25Rank reproduces q100 for the {hash, join, dup} query") {
    val words = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), w -> w != '')").as("words"))
    val tokens = words.select(col("doc_id"), explode(col("words")).as("w"))
    val lens = words.filter(size(col("words")) >= 1)
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"))
    val api = Graft.bm25Rank(tokens, lens, "doc_id", "w", "dl",
        query = Seq("hash", "join", "dup"))
      .select(col("doc_id"), col("n_terms"), Tables.r4(col("score")).as("bm25"))
    val q100 = operators.Retrieval.q100(s, d)
    assert(api.collect().toSeq == q100.collect().toSeq) // order matters (ranking)
  }

  test("quantizeInt law: equals a driver quantizer (null vector, half-step ties)") {
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(102)
    // with levels 4 and max|x| 4 the scale is 1, so ±0.5 and 1.5 sit
    // exactly on half steps (round half up), and ±4 tie for the max
    val fixed: Seq[Option[Seq[Double]]] = Seq(None, Some(Seq(0.0, 0.0)),
      Some(Seq(4.0, -4.0, 0.5, -0.5, 1.5, -1.5)))
    val random = Seq.fill(12)(Some(Seq.fill(1 + rnd.nextInt(8))(rnd.nextGaussian() * 3)))
    val vecs = (fixed ++ random).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (levels <- Seq(4, 127)) {
      val api = Graft.quantizeInt(vecs.toDF("id", "v"), "v", levels)
        .select("id", "scale", "codes", "rmse").collect()
        .map(r => r.getLong(0) -> Seq(String.valueOf(r.get(1)),
          Option(r.getSeq[Long](2)).fold("null")(_.mkString(",")), String.valueOf(r.get(3))))
        .toMap
      vecs.foreach { case (id, v) =>
        val ref = v match {
          case None => Seq("null", "null", "null")
          case Some(xs) =>
            val scale = xs.foldLeft(0.0)((a, x) => math.max(a, math.abs(x))) / levels
            val codes = xs.map(x => if (scale == 0.0) 0L
              else math.max(-levels.toLong, math.min(levels.toLong, math.floor(x / scale + 0.5).toLong)))
            val sq = xs.zip(codes).foldLeft(0.0) { case (a, (x, q)) =>
              val e = x - q.toDouble * scale; a + e * e }
            Seq(scale.toString, codes.mkString(","), math.sqrt(sq / xs.size.toDouble).toString)
        }
        assert(api(id) == ref, s"levels $levels, vector $v")
      }
    }
  }


  test("rpLshBucket reproduces q103's bucket assignment") {
    val api = Graft.rpLshBucket(Tables.embeddings(s, d), "embedding",
        dims = 64, nPlanes = 16, quantScale = 1000)
      .select("vec_id", "bucket")
    val q103 = operators.Retrieval.q103(s, d).select("vec_id", "bucket")
    assert(api.except(q103).isEmpty && q103.except(api).isEmpty)
  }

  test("qualityScore reproduces q79's oracle-verified quality column") {
    val api = Tables.documents(s, d)
      .select(col("doc_id"), Tables.r4(Graft.qualityScore(col("text"))).as("quality"))
    val q79 = operators.TextPipeline.q79(s, d).select("doc_id", "quality")
    assert(api.except(q79).isEmpty && q79.except(api).isEmpty)
    // an empty text has no characters and no words: null, not /0
    val sp = s
    import sp.implicits._
    assert(Seq("").toDF("text").select(Graft.qualityScore(col("text")))
      .head.isNullAt(0))
  }

  test("retrieval facade edges: zero vector, single plane, empty query") {
    val sp = s
    import sp.implicits._
    // all-zero vector: scale 0 → all codes 0, rmse 0 (no divide-by-zero)
    val z = Graft.quantizeInt(
        Seq((1L, Array(0.0, 0.0, 0.0))).toDF("id", "v"), "v")
      .select("scale", "codes", "rmse").collect().head
    assert(z.getDouble(0) == 0.0 && z.getDouble(2) == 0.0)
    assert(z.getSeq[Long](1) == Seq(0L, 0L, 0L))
    // one hyperplane → buckets are exactly the sign bit {0, 1}
    val b1 = Graft.rpLshBucket(Tables.embeddings(s, d), "embedding",
      dims = 64, nPlanes = 1).select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(b1.subsetOf(Set(0L, 1L)) && b1.nonEmpty)
    // empty / duplicate query terms are rejected up front
    val toks = Seq((1L, "a")).toDF("id", "w")
    val lens = Seq((1L, 1L)).toDF("id", "dl")
    intercept[IllegalArgumentException] {
      Graft.bm25Rank(toks, lens, "id", "w", "dl", query = Nil)
    }
    intercept[IllegalArgumentException] {
      Graft.bm25Rank(toks, lens, "id", "w", "dl", query = Seq("a", "a"))
    }
  }

  test("decontaminate reproduces q106's flagged set on the shingle relation") {
    val sh = s.read.parquet(s"$d/documents.parquet")
      .selectExpr("doc_id", "filter(split(lower(text), ' '), w -> w != '') AS words")
      .filter("size(words) >= 5")
      .selectExpr("doc_id",
        "explode(transform(sequence(1, size(words) - 4), i -> array_join(slice(words, i, 5), ' '))) AS sh")
      .distinct()
    val api = Graft.decontaminate(
        sh.filter("doc_id >= 10"), sh.filter("doc_id < 10"), "sh", "doc_id")
      .select("doc_id", "n_shared", "n_bench")
    val q106 = operators.Curation.q106(s, d).select("doc_id", "n_shared", "n_bench")
    assert(api.except(q106).isEmpty && q106.except(api).isEmpty)
  }

  test("tokenBudgetFill law: equals a driver greedy fill (nulls, tied orders)") {
    // keep a row while the tokens before it (nulls add nothing) stay
    // under the budget; a null-token row is never kept; o ties fall to id
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(109)
    val budget = 10L
    for (trial <- 0 until 4) {
      val rows = (0 until 10 + rnd.nextInt(50)).map { i =>
        (if (rnd.nextInt(7) == 0) None else Some(Seq("x", "y")(rnd.nextInt(2))),
          if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(6).toLong), i.toLong,
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(5).toLong))
      }
      val api = Graft.tokenBudgetFill(rows.toDF("g", "o", "id", "tok"), "g",
          Seq(col("o"), col("id")), "tok", budget)
        .select("id").as[Long].collect().toSet
      val ref = rows.groupBy(_._1).values.flatMap { g =>
        val sorted = g.sortBy(r => (r._2, r._3))
        val before = sorted.scanLeft(0L)((c, r) => c + r._4.getOrElse(0L))
        sorted.zip(before).collect { case (r, b) if r._4.isDefined && b < budget => r._3 }
      }.toSet
      assert(api == ref, s"trial $trial: $rows")
    }
  }


  test("cooccurrencePmi reproduces q107 after rounding and ranking") {
    val api = Graft.cooccurrencePmi(
        Tables.cappedRatings(s, d), "user_id", "item")
      .select(col("item_a"), col("item_b"), col("c_ab"),
        Tables.r4(col("pmi")).as("pmi"))
      .orderBy(col("c_ab").desc, col("item_a"), col("item_b")).limit(20)
    val q107 = operators.Recommender.q107(s, d)
    assert(api.collect().toSeq == q107.collect().toSeq)
  }

  test("nextTransitions reproduces q108 after rounding and ranking") {
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"), col("tsc"),
      get_json_object(col("props"), "$.k").cast("long").as("item"))
    val api = Graft.nextTransitions(e, "user_id",
        Seq(col("tsc"), col("event_id")), "item")
      .select(col("prev_item"), col("next_item"), col("c"),
        Tables.r4(col("prob")).as("prob"))
      .orderBy(col("c").desc, col("prev_item"), col("next_item")).limit(20)
    val q108 = operators.Recommender.q108(s, d)
    assert(api.collect().toSeq == q108.collect().toSeq)
  }

  test("profile reproduces q112 and plans a single scan") {
    val api = Graft.profile(Tables.customer(s, d),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    val q112 = operators.Analytics.q112(s, d)
    assert(api.collect().toSeq == q112.collect().toSeq)
    // one Expand over one scan — never a per-column loop of scans
    // (AQE's plan string repeats the tree under "== Initial Plan ==";
    // count only the final section)
    val plan = api.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.split("Scan parquet").length - 1 == 1,
      s"profile must read the table exactly once:\n$plan")
  }

  test("gapFill densifies to the full key×spine grid and preserves observed rows") {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("tsc")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val filled = Graft.gapFill(hourly, Seq("event_type"), "hour",
      expr("interval 1 hour"), Map("n_events" -> lit(0L)))
    val span = hourly.agg(unix_micros(min("hour")), unix_micros(max("hour"))).head()
    val nHours = (span.getLong(1) - span.getLong(0)) / 3600000000L + 1
    val nKeys = hourly.select("event_type").distinct().count()
    // exactly the dense grid, no duplicates
    assert(filled.count() == nKeys * nHours)
    assert(filled.select("event_type", "hour").distinct().count() == nKeys * nHours)
    // observed cells pass through unchanged; filled cells are zero
    assert(filled.filter(col("n_events") > 0).except(hourly).isEmpty)
    assert(hourly.filter(col("n_events") > 0).except(
      filled.filter(col("n_events") > 0)).isEmpty)
    assert(filled.count() - hourly.count() ==
      filled.filter(col("n_events") === 0).count())
  }

  test("ewma: first element seeds, constant series is a fixpoint, alpha=1 tracks last") {
    val sp = s
    import sp.implicits._
    val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 7.5),
        ("c", 1, 5.0), ("c", 2, 5.0), ("c", 3, 5.0))
      .toDF("k", "t", "v")
    val got = Graft.ewma(df, Seq("k"), "t", "v", 0.3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("b") == ((1L, 7.5)), "single element seeds the fold")
    assert(got("c") == ((3L, 5.0)), "constant series is a fixpoint")
    assert(math.abs(got("a")._2 - (10.0 * 0.7 + 20.0 * 0.3)) < 1e-9)
    val a1 = Graft.ewma(df, Seq("k"), "t", "v", 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(a1 == Map("a" -> 20.0, "b" -> 7.5, "c" -> 5.0), "alpha=1 keeps only the last value")
  }

  test("refIntegrity counts orphans and unreferenced parents on a known edge") {
    val sp = s
    import sp.implicits._
    val child = Seq(1, 1, 2, 9, 9, 9).toDF("fk") // 9 is an orphan key (3 rows)
    val parent = Seq(1, 2, 3, 4).toDF("pk")      // 3, 4 unreferenced
    val r = Graft.refIntegrity(child, "fk", parent, "pk").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((6L, 3L, 4L, 2L)))
    // clean edge on the corpus: every lineitem references a real order
    val clean = Graft.refIntegrity(Tables.lineitem(s, d), "l_orderkey",
      Tables.orders(s, d), "o_orderkey").head()
    assert(clean.getLong(1) == 0L, "corpus lineitem->orders must have no orphans")
  }

  test("refIntegrity law: equals a driver-side reference on seeded random edges (nulls, dupes, empties)") {
    // The full-outer-join rewrite must agree with first principles on every
    // degenerate shape at once: duplicate child keys, null child keys (count
    // as rows AND orphans — a SQL join never matches null), null parent keys
    // (count as parents AND unreferenced), and empty sides (all-zero row).
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val nC = trial match { case 0 => 0; case _ => 20 + rnd.nextInt(60) }
      val nP = trial match { case 1 => 0; case _ => 5 + rnd.nextInt(15) }
      val childKeys: Seq[Option[Int]] = Seq.fill(nC)(
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(25)))
      val parentKeys: Seq[Option[Int]] = {
        val base = rnd.shuffle((0 until 25).toList).take(nP).map(Some(_): Option[Int])
        if (trial == 2) None +: base.drop(1) else base
      }
      val expChild = childKeys.size.toLong
      val defined = parentKeys.flatten.toSet
      val expOrphan = childKeys.count(k => k.isEmpty || !defined(k.get)).toLong
      val expParent = parentKeys.size.toLong // Some-dupes impossible by take; None counts too
      val childDefined = childKeys.flatten.toSet
      val expUnref = parentKeys.count(k => k.isEmpty || !childDefined(k.get)).toLong
      val child = childKeys.toDF("fk")
      val parent = parentKeys.toDF("pk")
      val r = Graft.refIntegrity(child, "fk", parent, "pk").head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((expChild, expOrphan, expParent, expUnref)),
        s"trial $trial: child=$childKeys parent=$parentKeys")
    }
  }

  test("rollingDistinct reproduces q121's trailing-7-day WAU") {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("tsc")), lit("1970-01-01").cast("date")).as("eday"))
    val api = Graft.rollingDistinct(ud, "user_id", "eday", 7)
      .withColumnRenamed("n_distinct", "wau_api")
    val q121 = operators.Analytics.q121(s, d)
      .select(datediff(to_date(col("day")), lit("1970-01-01").cast("date")).as("eday"),
        col("wau_7d"))
    // both report exactly the observed days
    val joined = q121.join(api, "eday")
    assert(joined.count() == q121.count() && api.count() == q121.count())
    assert(joined.filter(col("wau_7d") =!= col("wau_api")).count() == 0)
  }

  test("equiDepthBuckets reproduces q128's decile assignment") {
    val api = Graft.equiDepthBuckets(Tables.orders(s, d), "o_totalprice", 10)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val q128 = operators.Aggregates.q128(s, d).select("bucket", "n")
    assert(api.except(q128).isEmpty && q128.except(api).isEmpty)
  }

  test("validityIntervals: intervals chain per entity with exactly one current row") {
    val iv = operators.Windows.q127(s, d).cache()
    try {
      assert(iv.count() == Tables.events(s, d).count(), "one interval per observation")
      // exactly one open (current) interval per entity
      val open = iv.groupBy("user_id", "event_type").agg(sum("is_current").as("c"))
      assert(open.filter(col("c") =!= 1L).count() == 0)
      // no interval ends before it starts
      assert(iv.filter(col("valid_to_us") < col("valid_from_us")).count() == 0)
      // closed intervals chain: every valid_to is some row's valid_from of
      // the same entity (the successor whose lead produced it)
      val closed = iv.filter(col("valid_to_us").isNotNull)
        .select(col("user_id"), col("event_type"), col("valid_to_us").as("valid_from_us"))
      val starts = iv.select("user_id", "event_type", "valid_from_us")
      assert(closed.join(starts, Seq("user_id", "event_type", "valid_from_us"), "left_anti")
        .isEmpty, "every closed interval must hand off to a successor")
    } finally iv.unpersist()
  }

  test("pageRank matches hand-computed fixpoints on tiny graphs") {
    val sp = s
    import sp.implicits._
    // 2-cycle: each node feeds the other its whole rank — 1.0 is stationary
    // from round 0, so every iteration returns exactly (0.15 + 0.85·1) = 1.
    val cyc = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "w")
    val cycRanks = Graft.pageRank(cyc, "src", "dst", "w", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cycRanks == Map(1L -> 1.0, 2L -> 1.0))

    // chain 1→2: node 1 has no inbound edges, so it drops to the 0.15 base
    // after round 1 and stays; node 2 then converges to 0.15 + 0.85·0.15.
    val chain = Seq((1L, 2L, 3.0)).toDF("src", "dst", "w")
    val got = Graft.pageRank(chain, "src", "dst", "w", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.15) < 1e-9, s"dangling-source rank: $got")
    assert(math.abs(got(2L) - (0.15 + 0.85 * 0.15)) < 1e-9, s"sink rank: $got")

    // rank mass flows: a node with two inbound paths outranks single-inbound
    val vee = Seq((1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val v = Graft.pageRank(vee, "src", "dst", "w", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v(3L) > v(1L) && v(1L) > v(2L), s"mass-flow ordering violated: $v")
  }

  test("triangles counts K_n and cycles correctly, orientation/dup-proof") {
    val sp = s
    import sp.implicits._
    // K_5: every node sits in C(4,2) = 6 triangles
    val k5 = (for { a <- 1L to 5L; b <- 1L to 5L if a != b } yield (a, b))
      .toDF("x", "y") // both orientations present: canonicalization must dedup
    val got = Graft.triangles(k5, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(_ -> 6L).toMap, s"K5 counts: $got")

    // C_4 (square) has no triangles; adding one diagonal creates exactly 2
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    assert(Graft.triangles(c4, "x", "y").count() == 0)
    val diag = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))).toDF("x", "y")
    val dg = Graft.triangles(diag, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // diagonal endpoints are in both triangles, the others in one each
    assert(dg == Map(1L -> 2L, 3L -> 2L, 2L -> 1L, 4L -> 1L), s"diag counts: $dg")
  }

  test("adamicAdar matches the hand-computed score and drops degree-1 users") {
    val sp = s
    import sp.implicits._
    // u1 consumes {a,b,c} (deg 3), u2 consumes {a,b} (deg 2),
    // u3 consumes {a} (deg 1 — can witness no pair, must not appear)
    val r = Seq(("u1", "a"), ("u1", "b"), ("u1", "c"),
      ("u2", "a"), ("u2", "b"), ("u3", "a")).toDF("u", "i")
    val got = Graft.adamicAdar(r, "u", "i")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    val w3 = 1.0 / math.log(3.0); val w2 = 1.0 / math.log(2.0)
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got(("a", "b"))._1 == 2L &&
      math.abs(got(("a", "b"))._2 - (w3 + w2)) < 1e-12)
    assert(got(("a", "c"))._1 == 1L &&
      math.abs(got(("a", "c"))._2 - w3) < 1e-12)
    assert(got(("b", "c"))._1 == 1L &&
      math.abs(got(("b", "c"))._2 - w3) < 1e-12)
  }

  test("bloomPrefilter: no false negatives, bounded false positives, join-neutral") {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
    val sel = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val filtered = Graft.bloomPrefilter(li, "l_orderkey", sel, "o_orderkey",
      expectedItems = 2000L, fpp = 0.03)
    val exactSemi = li.join(sel, col("l_orderkey") === col("o_orderkey"), "left_semi")
    // every true match survives the prefilter
    assert(exactSemi.except(filtered).isEmpty, "bloom dropped a true match")
    // false positives bounded: non-matching rows pass at ~fpp
    val nonMatching = li.count() - exactSemi.count()
    assert(filtered.count() - exactSemi.count() <= (nonMatching * 0.1).toLong + 1,
      s"false-positive rate too high: ${filtered.count()} vs ${exactSemi.count()}")
    // the real join's result is unchanged by prefiltering
    val full = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    val pre = filtered.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    assert(full == pre, s"prefilter changed join result: $full vs $pre")
  }

  test("ksStatistic: identical distributions give D=0, disjoint give D=1") {
    val sp = s
    import sp.implicits._
    val same = (1 to 50).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
      .toDF("g", "v")
    val d0 = Graft.ksStatistic(same, "v", "g", "a", "b").head()
    assert(d0.getLong(0) == 50L && d0.getLong(1) == 50L && d0.getDouble(2) == 0.0)

    val disjoint = ((1 to 30).map(i => ("a", i.toDouble)) ++
      (31 to 70).map(i => ("b", i.toDouble))).toDF("g", "v")
    val d1 = Graft.ksStatistic(disjoint, "v", "g", "a", "b").head()
    assert(d1.getDouble(2) == 1.0, s"disjoint supports must give D=1: $d1")

    // hand case with ties: a={1,1,2}, b={1,3,3} — after the tie group at 1,
    // F_a=2/3 vs F_b=1/3 (diff 1/3); at 2, 1 vs 1/3 (diff 2/3); at 3, 1 vs 1
    val tied = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("b", 1.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val dt = Graft.ksStatistic(tied, "v", "g", "a", "b").head()
    assert(math.abs(dt.getDouble(2) - 2.0 / 3.0) < 1e-15, s"tie handling: $dt")
  }

  test("cuped: theta recovers a linear coefficient and removes its variance") {
    val sp = s
    import sp.implicits._
    // y = 2x + arm effect: theta must be ~2 and X explains all within-arm
    // variance, so var_reduction -> 1 and adjusted means keep the lift
    val rows = (1 to 40).map { i =>
      val x = i.toDouble
      val arm = if (i % 2 == 0) "A" else "B"
      val lift = if (arm == "A") 10.0 else 0.0
      (arm, x, 2.0 * x + lift)
    }
    val out = Graft.cuped(rows.toDF("arm", "x", "y"), "arm", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toMap
    val (_, _, adjA, vrA, thetaA) = out("A")
    val (_, _, adjB, _, _) = out("B")
    assert(math.abs(thetaA - 2.0) < 0.05, s"theta: $thetaA")
    assert(vrA > 0.9, s"variance reduction: $vrA")
    // the arm lift survives adjustment (~10 apart)
    assert(math.abs((adjA - adjB) - 10.0) < 0.5, s"adjusted lift: $adjA vs $adjB")
  }

  test("adamicAdar/triangles edge cases: no witnesses, triangle-free graphs") {
    val sp = s
    import sp.implicits._
    // every user degree-1: no pair has a witness → empty
    val solo = Seq(("u1", "a"), ("u2", "b"), ("u3", "c")).toDF("u", "i")
    assert(Graft.adamicAdar(solo, "u", "i").count() == 0)
    // star graph: no triangles
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("x", "y")
    assert(Graft.triangles(star, "x", "y").count() == 0)
  }

  test("blockedFuzzyJoin: pair counts equal the naive row-level join; blocks bound candidates") {
    val sp = s
    import sp.implicits._
    val rows = Seq("cold rod", "bold rod", "cold rod", "blue cap", "glue cap",
      "cold rod", "bold rod", "blue cap").toDF("nm")
    val api = Graft.blockedFuzzyJoin(rows, "nm",
      regexp_extract(col("nm"), "(\\S+)$", 1), 2)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // cold rod(3) x bold rod(2) dist 1; blue cap(2) x glue cap(1) dist 1;
    // cross-block pairs (rod vs cap) never compared
    assert(api.toSeq == Seq(("blue cap", "glue cap", 1L, 2L),
      ("bold rod", "cold rod", 1L, 6L)))
    // row-level naive equivalence on the real corpus slice (q158's input)
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
      regexp_extract(col("p_name"), "(\\S+)$", 1).as("blk"))
    val naive = p.as("a").join(p.as("b"),
        col("a.blk") === col("b.blk") &&
        col("a.p_partkey") < col("b.p_partkey") &&
        col("a.p_name") =!= col("b.p_name") &&
        levenshtein(col("a.p_name"), col("b.p_name")) <= lit(4))
      .select(least(col("a.p_name"), col("b.p_name")).as("name_a"),
        greatest(col("a.p_name"), col("b.p_name")).as("name_b"))
      .groupBy("name_a", "name_b").agg(count(lit(1)).as("n_pairs"))
    val fac = Graft.blockedFuzzyJoin(Tables.part(s, d).select("p_name"),
      "p_name", regexp_extract(col("p_name"), "(\\S+)$", 1), 4)
      .select("name_a", "name_b", "n_pairs")
    assert(fac.except(naive).isEmpty && naive.except(fac).isEmpty)
  }

  test("prefixSum/prefixMax equal the single-window forms; no wide global window in plan") {
    import org.apache.spark.sql.expressions.Window
    // distinct-order grain over a fact table: per-price order counts
    val pv = Tables.orders(s, d).groupBy(col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"), max("o_orderdate").as("dm"))
    val wIncl = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wStrict = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val naive = pv.select(col("v"), sum("c").over(wIncl).as("c_cum"),
      max("dm").over(wStrict).as("pm"))
    val api = Graft.prefixMax(Graft.prefixSum(pv, "v", Seq("c")), "v", "dm", "pm")
      .select("v", "c_cum", "pm")
    assert(api.except(naive).isEmpty && naive.except(api).isEmpty)
    // the decomposition really decomposed: every unpartitioned Window in
    // the optimized plan reads the ≤|blocks| per-block totals, never the
    // price-grain relation itself
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val globals = api.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globals.nonEmpty, "expected the bounded per-block offsets window")
    globals.foreach { w =>
      val n = s.sessionState.executePlan(w.child).executedPlan.execute().count()
      assert(n <= 64, s"global window input must be block-count-sized, got $n")
    }
    // empty input stays empty, single row gets null strict-prefix max
    val one = pv.limit(1)
    val oneR = Graft.prefixMax(Graft.prefixSum(one, "v", Seq("c")), "v", "dm", "pm")
      .select("c_cum", "pm").collect()
    assert(oneR.length == 1 && oneR(0).isNullAt(1))
    assert(Graft.prefixSum(pv.limit(0), "v", Seq("c")).count() == 0)
    // opt-in duplicate-order detection: with spark.graft.validateOrder=true
    // a duplicated order key fails fast instead of silently producing
    // block-placement-dependent results; the distinct grain still passes
    s.conf.set("spark.graft.validateOrder", "true")
    try {
      val dup = pv.union(pv.limit(5))
      val eSum = intercept[IllegalArgumentException] {
        Graft.prefixSum(dup, "v", Seq("c"))
      }
      assert(eSum.getMessage.contains("duplicates"))
      val eMax = intercept[IllegalArgumentException] {
        Graft.prefixMax(dup, "v", "dm", "pm")
      }
      assert(eMax.getMessage.contains("duplicates"))
      assert(Graft.prefixSum(pv, "v", Seq("c")).count() == pv.count())
    } finally s.conf.unset("spark.graft.validateOrder")
  }

  test("groupedPrefixSum equals the per-group single-window form; no unpartitioned window at all") {
    import org.apache.spark.sql.expressions.Window
    // per-(clerk, price) order counts: many groups, each with its own series
    val pv = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val wIncl = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = pv.select(col("g"), col("v"), sum("c").over(wIncl).as("c_cum"))
    val api = Graft.groupedPrefixSum(pv, Seq("g"), "v", Seq("c"))
      .select("g", "v", "c_cum")
    assert(api.except(naive).isEmpty && naive.except(api).isEmpty)
    // fully partitioned: the decomposition may not introduce ANY
    // unpartitioned window (the offsets combine partitions by group)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val globals = api.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "groupedPrefixSum must keep every window partitioned")
    // result is invariant to the input's physical layout (block placement
    // only regroups exact addends)
    val shuffled = Graft.groupedPrefixSum(pv.repartition(7), Seq("g"), "v", Seq("c"))
      .select("g", "v", "c_cum")
    assert(shuffled.except(naive).isEmpty && naive.except(shuffled).isEmpty)
    // empty input; opt-in per-group duplicate detection
    assert(Graft.groupedPrefixSum(pv.limit(0), Seq("g"), "v", Seq("c")).count() == 0)
    s.conf.set("spark.graft.validateOrder", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Graft.groupedPrefixSum(pv.union(pv.limit(3)), Seq("g"), "v", Seq("c"))
      }
      assert(e.getMessage.contains("duplicates"))
      assert(Graft.groupedPrefixSum(pv, Seq("g"), "v", Seq("c")).count() == pv.count())
    } finally s.conf.unset("spark.graft.validateOrder")
    // NULL group keys are a group of their own (the Window.partitionBy
    // semantics): the null-safe joins must neither drop them nor merge
    // them into another group
    val withNull = pv.withColumn("g",
      when(col("g") === "1-URGENT", lit(null).cast("string")).otherwise(col("g")))
    val naiveNull = withNull.select(col("g"), col("v"),
      sum("c").over(wIncl).as("c_cum"))
    val apiNull = Graft.groupedPrefixSum(withNull, Seq("g"), "v", Seq("c"))
      .select("g", "v", "c_cum")
    assert(apiNull.count() == withNull.count(),
      "null-group rows must survive the bounds/offsets joins")
    assert(apiNull.except(naiveNull).isEmpty && naiveNull.except(apiNull).isEmpty)
  }

  test("ntileExact reproduces the global ntile window bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties on f (order counts), near-distinct m (2dp spends)
    val rel = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("f"), Tables.r2(sum("o_totalprice")).as("m"))
    for {
      b <- Seq(3, 4, 7)
      (kc, asc) <- Seq(("f", true), ("f", false), ("m", false))
    } {
      val w = if (asc) Window.orderBy(col(kc).asc, col("o_custkey"))
              else Window.orderBy(col(kc).desc, col("o_custkey"))
      val naive = rel.select(col("o_custkey"),
        ntile(b).over(w).cast("long").as("q"))
      val api = Graft.ntileExact(rel, b, kc, asc, "o_custkey", "q")
        .select("o_custkey", "q")
      assert(api.except(naive).isEmpty && naive.except(api).isEmpty,
        s"ntileExact mismatch at buckets=$b key=$kc asc=$asc")
    }
    // n < buckets: ntile gives each row its own bucket (= its row number)
    val t = Graft.ntileExact(rel.limit(2), 7, "f", asc = true, "o_custkey", "q")
    assert(t.select("q").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("ntileExactGrouped reproduces the partitioned ntile window bit-for-bit, NULL group included") {
    import org.apache.spark.sql.expressions.Window
    import TestSpark.spark.implicits._
    // real groups: per-segment customer spend quartiles, ties on f
    val rel = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_custkey")
      .agg(count(lit(1)).as("f"), Tables.r2(sum("o_totalprice")).as("m"))
    for {
      b <- Seq(3, 4)
      (kc, asc) <- Seq(("f", true), ("m", false))
    } {
      val w = Window.partitionBy("c_mktsegment")
      val ww = if (asc) w.orderBy(col(kc).asc, col("o_custkey"))
               else w.orderBy(col(kc).desc, col("o_custkey"))
      val naive = rel.select(col("c_mktsegment"), col("o_custkey"),
        ntile(b).over(ww).cast("long").as("q"))
      val api = Graft.ntileExactGrouped(rel, b, Seq("c_mktsegment"), kc, asc,
        "o_custkey", "q").select("c_mktsegment", "o_custkey", "q")
      assert(api.except(naive).isEmpty && naive.except(api).isEmpty,
        s"ntileExactGrouped mismatch at buckets=$b key=$kc asc=$asc")
    }
    // NULL group key: its own group, exactly as Window.partitionBy
    val withNull = Seq((Some("g1"), 1L, 10.0), (Some("g1"), 2L, 20.0),
      (Some("g1"), 3L, 30.0), (None, 4L, 5.0), (None, 5L, 15.0))
      .toDF("g", "id", "v")
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id"))
    val naive = withNull.select(col("g"), col("id"),
      ntile(2).over(w).cast("long").as("q"))
    val api = Graft.ntileExactGrouped(withNull, 2, Seq("g"), "v", asc = true,
      "id", "q").select("g", "id", "q")
    assert(api.except(naive).isEmpty && naive.except(api).isEmpty,
      "NULL group rows must form their own complete ntile split")
  }

  /** The 1-based tie-averaged rank of each distinct value of `vs`. */
  private def driverTieRanks(vs: Seq[Double]): Map[Double, Double] = {
    val sorted = vs.sorted
    val out = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < sorted.size) {
      var j = i
      while (j < sorted.size && sorted(j) == sorted(i)) j += 1
      out(sorted(i)) = (i + 1 + j).toDouble / 2.0 // mean of ranks i+1..j
      i = j
    }
    out.toMap
  }

  test("mannWhitney/spearman law: equals a driver rank computation on q211/q210's inputs") {
    // q211's input relation: per-user purchase spend split into hash arms
    // (its values are distinct at sf0.001; q210's quantities below tie)
    val spend = Tables.events(s, d).filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(Tables.r2(sum("value")).as("y"))
      .withColumn("arm",
        when(Graft.hashBucket(col("user_id"), 2) === 0, "A").otherwise("B"))
    val arms = spend.select("y", "arm").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSeq
    val fr = driverTieRanks(arms.map(_._1))
    val na = arms.count(_._2 == "A").toDouble
    val nb = arms.size - na
    val n = na + nb
    val ua = arms.filter(_._2 == "A").map(a => fr(a._1)).sum - na * (na + 1) / 2.0
    val tie3 = arms.groupBy(_._1).values
      .map { g => val t = g.size.toDouble; t * t * t - t }.sum
    val z = (ua - na * nb / 2.0) /
      math.sqrt(na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1))))
    val mw = Graft.mannWhitney(spend, "y", "arm", "A", "B").head()
    assert(mw.getAs[Long]("n_a") == na.toLong && mw.getAs[Long]("n_b") == nb.toLong)
    assert(math.abs(mw.getAs[Double]("u_a") - ua) < 1e-9)
    assert(math.abs(mw.getAs[Double]("z") - z) < 1e-9)
    // an empty arm zeroes the variance term: null z, not /0
    val oneArm = Graft.mannWhitney(spend.filter(col("arm") === "A"), "y", "arm", "A", "B")
      .head()
    assert(oneArm.getAs[Long]("n_b") == 0L && oneArm.isNullAt(oneArm.fieldIndex("z")))

    // q210's input relation, plus a group whose x support is a single
    // value: zero rank variance gives a null coefficient, not
    // [DIVIDE_BY_ZERO]
    val base = Tables.lineitem(s, d).select(col("l_returnflag").as("rf"),
      col("l_quantity").as("x"),
      Tables.r2(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"))
    val spark = s
    import spark.implicits._
    val flat = Seq(("~", 1, 2.0), ("~", 1, 3.0)).toDF("rf", "x", "y")
      .select(base.schema.map(f => col(f.name).cast(f.dataType)): _*)
    val input = base.unionByName(flat)
    val got = Graft.spearman(input, Seq("rf"), "x", "y").collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val rows = input.select(col("rf"), col("x").cast("double"), col("y")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got.keySet == rows.map(_._1).toSet)
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val fx = driverTieRanks(rs.map(_._2)); val fy = driverTieRanks(rs.map(_._3))
      val rx = rs.map(r => fx(r._2)); val ry = rs.map(r => fy(r._3))
      val m = rs.size.toDouble
      val num = m * rx.zip(ry).map { case (a, b) => a * b }.sum - rx.sum * ry.sum
      val den = math.sqrt((m * rx.map(a => a * a).sum - rx.sum * rx.sum) *
        (m * ry.map(b => b * b).sum - ry.sum * ry.sum))
      val (gn, gr) = got(g)
      assert(gn == rs.size, s"group $g")
      if (den == 0.0) assert(gr.isEmpty, s"group $g: zero rank variance must give null")
      else assert(gr.exists(v => math.abs(v - num / den) < 1e-9), s"group $g: $gr vs ${num / den}")
    }
    assert(got("~") == ((2L, None)))
  }

  test("lorenz law: equals a driver cumulative-share scan on q224's input") {
    // q224's input relation: one revenue row per customer
    val rev = Tables.orders(s, d).groupBy("o_custkey")
      .agg(Tables.r2(sum("o_totalprice")).as("rev"))
    val got = Graft.lorenz(rev, "rev").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val vals = rev.select("rev").collect().map(_.getDouble(0)).toSeq
    val totC = vals.size.toDouble
    val totR = vals.sum
    var cc = 0L; var cr = 0.0
    val cells = vals.groupBy(identity).map { case (v, g) => (v, g.size) }
      .toSeq.sortBy(_._1).map { case (v, c) =>
        cc += c; cr += v * c
        (math.ceil(cc / totC * 10.0).toLong, cc / totC, cr / totR)
      }
    val want = cells.groupBy(_._1).map { case (dec, xs) =>
      dec -> ((xs.map(_._2).max, xs.map(_._3).max)) }
    assert(got.keySet == want.keySet)
    got.foreach { case (dec, (f, sh)) =>
      assert(math.abs(f - want(dec)._1) < 1e-12 &&
        math.abs(sh - want(dec)._2) < 1e-12, s"decile $dec") }
  }

  test("adamicAdar/triangles facades reproduce q133/q134 exactly") {
    val aa = Graft.adamicAdar(Tables.cappedRatings(s, d), "user_id", "item")
      .select(col("item_a"), col("item_b"), col("common_users"),
        Tables.r4(col("aa")).as("aa"))
      .orderBy(col("aa").desc, col("item_a"), col("item_b")).limit(20)
    val q133 = operators.Graph.q133(s, d)
    assert(aa.collect().toSeq == q133.collect().toSeq)
  }

  test("perKeyTopContributors: binding cap, whole-tie admission, null key, no-op below m") {
    val spark = s
    import spark.implicits._
    // hot: 1500 rows with DISTINCT scores → exactly the top-m survive;
    // tied: 2000 rows at ONE score → the whole boundary tie group stays;
    // cold: 10 rows (< m) → untouched; null key: its own group (20 rows).
    val rows =
      (1 to 1500).map(i => (Option("hot"), i.toDouble)) ++
      (1 to 2000).map(_ => (Option("tied"), 7.0)) ++
      (1 to 10).map(i => (Option("cold"), i.toDouble)) ++
      (1 to 20).map(i => (Option.empty[String], i.toDouble))
    val df = rows.toSeq.toDF("k", "score")
    val m = 100
    val out = Graft.perKeyTopContributors(df, Seq("k"), col("score"), m)
      .groupBy("k").agg(count(lit(1)).as("n"), min("score").as("lo"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(Some("hot")) == ((100L, 1401.0)),
      "distinct-score key must keep exactly the top-m scores")
    assert(out(Some("tied")) == ((2000L, 7.0)),
      "a boundary tie group is admitted WHOLE")
    assert(out(Some("cold")) == ((10L, 1.0)), "below-m keys are a no-op")
    assert(out(None) == ((20L, 1.0)),
      "NULL key is its own group, not dropped (null-safe join)")
    // brute-force cross-check on the hot key: threshold = m-th highest
    val brute = (1 to 1500).map(_.toDouble).sorted.reverse.take(m).min
    assert(out(Some("hot"))._2 == brute)
  }

  test("perKeyTopContributors is a no-op on q64's corpus (the cap never binds at test SF)") {
    val capped = Tables.cappedRatings(s, d)
    val out = Graft.perKeyTopContributors(
      capped, Seq("item"), Tables.r4(col("rating")), 1024)
    assert(out.count() == capped.count(),
      "sf0.001 has <1024 raters/item, so q64's results are bit-identical " +
        "to the uncapped form there")
  }
}
