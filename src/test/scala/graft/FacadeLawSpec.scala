package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Randomized driver-side reference laws for Graft facades that previously
  * carried only golden reproductions of their query keys. Each test builds
  * a seeded adversarial corpus (heavy ties, key skew, matchless keys,
  * duplicate keys inside one input) and checks the distributed plan against
  * an independent sequential reimplementation on the driver — so a block
  * placement, join order or window frame regression shows up as a value
  * diff, not just a changed plan. Exact-integer results compare with ==;
  * double results compare at 1e-9 (the reference reorders fp additions). */
class FacadeLawSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val G = graft.api.Graft

  test("asofJoin equals the sequential latest-before scan (strict + inclusive, ties broken by payload)") {
    val rng = new scala.util.Random(7)
    // k4 appears only on the left: those rows must survive with null payloads
    val left = (0 until 120).map(i =>
      (i.toLong, s"k${rng.nextInt(5)}", rng.nextInt(50).toLong))
    val right = (0 until 200).map(_ =>
      (s"k${rng.nextInt(4)}", rng.nextInt(50).toLong, rng.nextInt(9).toLong))
    val lDf = s.createDataFrame(left).toDF("id", "k", "ts")
    val rDf = s.createDataFrame(right).toDF("k", "rts", "pay")
    for (strict <- Seq(true, false)) {
      val got = G.asofJoin(lDf, rDf, Seq("k"), "ts", "rts", Seq("pay"), strict)
        .select("id", "asof_rts", "asof_pay").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
        .toMap
      val want = left.map { case (id, k, ts) =>
        val ms = right.filter(r =>
          r._1 == k && (if (strict) r._2 < ts else r._2 <= ts))
        id -> (if (ms.isEmpty) None else Some(ms.map(r => (r._2, r._3)).max))
      }.toMap
      assert(got == want, s"strict=$strict")
    }
  }

  test("sessionize equals a sequential gap scan on seeded series with timestamp ties") {
    val rng = new scala.util.Random(11)
    // ts on a 10-grid with gap 25: only 30+ jumps split; ties are frequent
    val rows = (0 until 400).map(i =>
      (s"u${rng.nextInt(8)}", rng.nextInt(40).toLong * 10L, i.toLong))
    val df = s.createDataFrame(rows).toDF("u", "ts", "tb")
    val got = G.sessionize(df, "u", "ts", gap = 25L, tieBreak = Seq("tb"))
      .select("u", "tb", "session_id").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.groupBy(_._1).flatMap { case (u, rs) =>
      var sess = 0L; var prev = Long.MinValue
      rs.sortBy(r => (r._2, r._3)).map { case (_, ts, tb) =>
        if (prev == Long.MinValue || ts - prev > 25L) sess += 1
        prev = ts
        (u, tb) -> sess
      }
    }.toMap
    assert(got.size == rows.size && got == want)
  }

  test("rollingDistinct equals a driver trailing-window distinct on random id×day data") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 500).map(_ =>
      (rng.nextInt(30).toLong, 100L + rng.nextInt(20)))
    val df = s.createDataFrame(rows).toDF("id", "day")
    val got = G.rollingDistinct(df, "id", "day", 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val obs = rows.distinct
    val days = obs.map(_._2).toSet
    val want = obs
      .flatMap { case (id, dy) => (dy until dy + 7).filter(days).map(t => (t, id)) }
      .groupBy(_._1).map { case (t, xs) =>
        t -> ((xs.map(_._2).distinct.size.toLong, obs.count(_._2 == t).toLong)) }
    assert(got == want)
  }

  test("equiDepthBuckets: in-range, monotone in value, near-equal counts on distinct values") {
    val rng = new scala.util.Random(17)
    val vals = rng.shuffle((1 to 1000).toList).take(730).map(_.toDouble * 1.5)
    val df = s.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val got = G.equiDepthBuckets(df, "v", 10).select("v", "bucket").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(got.forall { case (_, b) => b >= 1 && b <= 10 })
    val inOrder = got.sortBy(_._1).map(_._2)
    assert(inOrder.zip(inOrder.tail).forall { case (a, b) => a <= b },
      "bucket id must be monotone in the value")
    val counts = got.groupBy(_._2).map(_._2.size)
    assert(counts.size == 10 && counts.max - counts.min <= 2,
      s"equi-depth counts drifted: $counts")
  }

  test("ksStatistic equals the driver ECDF sup-difference; third group ignored") {
    val rng = new scala.util.Random(19)
    val rows = (0 until 800).map { _ =>
      val g = if (rng.nextBoolean()) "a" else "b"
      (g, (if (g == "a") rng.nextInt(60) else rng.nextInt(60) + 8).toDouble)
    } ++ Seq(("c", 1.0)) // must not contaminate either ECDF
    val df = s.createDataFrame(rows).toDF("g", "v")
    val r = G.ksStatistic(df, "v", "g", "a", "b").head()
    val as = rows.filter(_._1 == "a").map(_._2)
    val bs = rows.filter(_._1 == "b").map(_._2)
    def ecdf(xs: Seq[Double], t: Double) = xs.count(_ <= t).toDouble / xs.size
    val d = (as ++ bs).distinct
      .map(t => math.abs(ecdf(as, t) - ecdf(bs, t))).max
    assert(r.getAs[Long]("n_a") == as.size && r.getAs[Long]("n_b") == bs.size)
    assert(math.abs(r.getAs[Double]("ks_d") - d) < 1e-12)
  }

  test("applyChanges equals a driver latest-wins merge with duplicate keys in both inputs") {
    val rng = new scala.util.Random(23)
    val base = (0 until 60).map(i => (i.toLong % 25, rng.nextInt(5).toLong, s"base$i"))
    val chg = (0 until 80).map(i => (rng.nextInt(35).toLong, rng.nextInt(7).toLong, s"chg$i"))
    val bDf = s.createDataFrame(base).toDF("k", "ver", "payload")
    val cDf = s.createDataFrame(chg).toDF("k", "ver", "payload")
    val got = G.applyChanges(bDf, cDf, Seq("k"), col("ver"), Seq(col("payload")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // winner per key: max (version, payload) — payload strings are ASCII, so
    // Scala's string order matches Spark's UTF8 binary order
    val want = (base ++ chg).groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(r => (r._2, r._3)).max }
    assert(got == want)
  }

  test("tokenBudgetFill and packSequences equal the sequential greedy fill/packer") {
    val rng = new scala.util.Random(29)
    val rows = (0 until 300).map(i =>
      (s"s${rng.nextInt(6)}", i.toLong, (rng.nextInt(90) + 1).toLong))
    val df = s.createDataFrame(rows).toDF("src", "ord", "tok")
    val kept = G.tokenBudgetFill(df, "src", Seq(col("ord")), "tok", 500L)
      .select("src", "ord").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val chunks = G.packSequences(df, "src", "ord", "tok", 400L)
      .select("src", "ord", "chunk_id").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wantKept = scala.collection.mutable.Set.empty[(String, Long)]
    val wantChunk = scala.collection.mutable.Map.empty[(String, Long), Long]
    rows.groupBy(_._1).foreach { case (g, rs) =>
      var before = 0L
      rs.sortBy(_._2).foreach { case (_, o, t) =>
        if (before < 500L) wantKept += ((g, o)) // admits the crossing row
        wantChunk((g, o)) = before / 400L
        before += t
      }
    }
    assert(kept == wantKept)
    assert(chunks == wantChunk.toMap)
  }

  test("mannWhitney U and z equal a driver rank computation under heavy ties") {
    val rng = new scala.util.Random(31)
    val rows = (0 until 600).map { _ =>
      (if (rng.nextInt(3) == 0) "x" else "y", rng.nextInt(25).toDouble)
    }
    val df = s.createDataFrame(rows).toDF("g", "v")
    val r = G.mannWhitney(df, "v", "g", "x", "y").head()
    val xs = rows.filter(_._1 == "x").map(_._2)
    val ys = rows.filter(_._1 == "y").map(_._2)
    val sorted = (xs ++ ys).sorted
    val fr = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < sorted.size) {
      var j = i
      while (j < sorted.size && sorted(j) == sorted(i)) j += 1
      fr(sorted(i)) = (i + 1 + j).toDouble / 2.0 // mean of ranks i+1..j
      i = j
    }
    val na = xs.size.toDouble; val nb = ys.size.toDouble; val n = na + nb
    val ua = xs.map(fr).sum - na * (na + 1) / 2.0
    val tie3 = sorted.groupBy(identity).values
      .map { g => val t = g.size.toDouble; t * t * t - t }.sum
    val z = (ua - na * nb / 2.0) /
      math.sqrt(na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1))))
    assert(r.getAs[Long]("n_a") == xs.size && r.getAs[Long]("n_b") == ys.size)
    assert(math.abs(r.getAs[Double]("u_a") - ua) < 1e-9)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-9)
  }

  test("spearman equals a driver rank correlation per group under ties") {
    val rng = new scala.util.Random(37)
    val rows = (0 until 900).map { i =>
      (s"g${i % 3}", rng.nextInt(20).toDouble, rng.nextInt(15).toDouble)
    }
    val df = s.createDataFrame(rows).toDF("g", "x", "y")
    val got = G.spearman(df, Seq("g"), "x", "y").collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("spearman"))))
      .toMap
    def fracRanks(vs: Seq[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      val out = scala.collection.mutable.Map.empty[Double, Double]
      var i = 0
      while (i < sorted.size) {
        var j = i
        while (j < sorted.size && sorted(j) == sorted(i)) j += 1
        out(sorted(i)) = (i + 1 + j).toDouble / 2.0
        i = j
      }
      out.toMap
    }
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val fx = fracRanks(rs.map(_._2)); val fy = fracRanks(rs.map(_._3))
      val rx = rs.map(r => fx(r._2)); val ry = rs.map(r => fy(r._3))
      val n = rs.size.toDouble
      val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum - rx.sum * ry.sum
      val den = math.sqrt((n * rx.map(a => a * a).sum - rx.sum * rx.sum) *
        (n * ry.map(b => b * b).sum - ry.sum * ry.sum))
      val (gn, gr) = got(g)
      assert(gn == rs.size)
      assert(math.abs(gr - num / den) < 1e-9, s"group $g")
    }
  }

  test("topKPerGroup equals the per-group sequential sort-take under value ties") {
    val rng = new scala.util.Random(41)
    // v on a 12-grid forces rank ties broken by the id column
    val rows = (0 until 400).map(i =>
      (s"g${rng.nextInt(7)}", rng.nextInt(12).toLong, i.toLong))
    val df = s.createDataFrame(rows).toDF("g", "v", "id")
    val got = G.topKPerGroup(df, Seq("g"), Seq(col("v").desc, col("id")), 5)
      .select("g", "id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(5).zipWithIndex
        .map { case (r, i) => (g, r._3) -> (i + 1).toLong }
    }
    assert(got == want)
  }

  test("dedupFirst equals the per-key sequential minimum under duplicate keys") {
    val rng = new scala.util.Random(43)
    val rows = (0 until 300).map(i =>
      (rng.nextInt(40).toLong, rng.nextInt(6).toLong, i.toLong))
    val df = s.createDataFrame(rows).toDF("k", "ver", "id")
    val got = G.dedupFirst(df, Seq("k"), Seq(col("ver"), col("id")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = rows.groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(r => (r._2, r._3)).min }
    assert(got == want)
  }

  test("perKeyTopContributors equals the driver threshold scan (null keys, whole-tie admission)") {
    val rng = new scala.util.Random(47)
    // scores on a 9-grid: the m-th distinct-row boundary is almost always a
    // tie group, so whole-tie admission (the documented overshoot) is
    // exercised on most keys; one key is null, one key has fewer than m rows
    val rows = (0 until 500).map { i =>
      val k = rng.nextInt(9) match {
        case 0 => null
        case 7 | 8 => "hot"
        case n => s"k$n"
      }
      (k, rng.nextInt(9).toDouble, i.toLong)
    } :+ (("tiny", 3.0, 9999L))
    val df = s.createDataFrame(rows).toDF("k", "sc", "id")
    val m = 6
    val got = G.perKeyTopContributors(df, Seq("k"), col("sc"), m)
      .select("k", "id").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val want = rows.groupBy(r => Option(r._1)).toSeq.flatMap { case (k, rs) =>
      // per distinct score (desc): admit while rows STRICTLY above it number < m
      val bySc = rs.groupBy(_._2).map { case (sc, g) => (sc, g.size) }
        .toSeq.sortBy(-_._1)
      val cumBefore = bySc.scanLeft(0)(_ + _._2)
      val thr = bySc.zip(cumBefore).filter(_._2 < m).map(_._1._1).min
      rs.filter(_._2 >= thr).map(r => (k, r._3))
    }.toSet
    assert(got == want)
  }

  test("validityIntervals equals the driver lead scan with timestamp ties totalized") {
    val rng = new scala.util.Random(53)
    val rows = (0 until 250).map(i =>
      (s"e${rng.nextInt(12)}", rng.nextInt(30).toLong * 10L, i.toLong))
    val df = s.createDataFrame(rows).toDF("ent", "ts", "seq")
    val got = G.validityIntervals(df, Seq("ent"), "ts", tieBreak = Seq("seq"))
      .select("ent", "seq", "valid_to", "is_current").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getBoolean(3)))
      .toMap
    val want = rows.groupBy(_._1).flatMap { case (ent, rs) =>
      val ord = rs.sortBy(r => (r._2, r._3))
      ord.zipWithIndex.map { case ((_, _, seq), i) =>
        val nxt = if (i + 1 < ord.size) Some(ord(i + 1)._2) else None
        (ent, seq) -> ((nxt, nxt.isEmpty))
      }
    }.toMap
    assert(got == want)
  }

  test("chunkOverlap equals the driver slicer; empty arrays drop, short tails survive") {
    val rng = new scala.util.Random(59)
    val rows = (0 until 80).map { i =>
      (i.toLong, (0 until rng.nextInt(13)).map(_ => rng.nextInt(100).toLong))
    }
    val df = s.createDataFrame(rows).toDF("id", "arr")
    val got = G.chunkOverlap(df, "arr", chunkSize = 5, stride = 3)
      .select("id", "chunk_idx", "chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toList).toMap
    val want = rows.filter(_._2.nonEmpty).flatMap { case (id, arr) =>
      (0L to (arr.size - 1) / 3).map { ci =>
        (id, ci) -> arr.slice(ci.toInt * 3, ci.toInt * 3 + 5).toList
      }
    }.toMap
    assert(got == want)
  }

  test("ewma and holt equal the driver 10dp-pinned folds on random per-key series") {
    val rng = new scala.util.Random(61)
    val rows = (0 until 360).flatMap { i =>
      val k = s"k${i % 9}"
      Some((k, i.toLong, (rng.nextInt(2000) - 700).toDouble / 4.0))
    }
    val df = s.createDataFrame(rows).toDF("k", "o", "v")
    def pin(x: Double) = math.floor(x * 1e10 + 0.5) / 1e10
    val (alpha, beta) = (0.3, 0.2)

    val gotE = G.ewma(df, Seq("k"), "o", "v", alpha).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_points"), r.getAs[Double]("ewma"))))
      .toMap
    val gotH = G.holt(df, Seq("k"), "o", "v", alpha, beta).collect()
      .map(r => r.getString(0) -> ((r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast")))).toMap
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val xs = rs.sortBy(_._2).map(_._3)
      val e = xs.tail.foldLeft(xs.head)((acc, x) => pin(acc * (1.0 - alpha) + alpha * x))
      val (l, b) = xs.tail.foldLeft((xs.head, 0.0)) { case ((l0, b0), x) =>
        val nl = pin(alpha * x + (1.0 - alpha) * (l0 + b0))
        (nl, pin(beta * (nl - l0) + (1.0 - beta) * b0))
      }
      assert(gotE(k)._1 == xs.size && math.abs(gotE(k)._2 - e) < 1e-12, s"ewma $k")
      assert(math.abs(gotH(k)._1 - l) < 1e-12 && math.abs(gotH(k)._2 - b) < 1e-12 &&
        math.abs(gotH(k)._3 - (l + b)) < 1e-12, s"holt $k")
    }
  }

  test("decontaminate equals the driver distinct-intersection count") {
    val rng = new scala.util.Random(67)
    val corpus = (0 until 400).map(_ =>
      (rng.nextInt(50).toLong, s"sh${rng.nextInt(80)}"))
    // 40 probe docs of three keys each; keys repeat across probe docs
    val probe = (0 until 120).map(i => (1000L + i / 3, s"sh${rng.nextInt(60)}"))
    val got = G.decontaminate(s.createDataFrame(corpus).toDF("doc", "key"),
        s.createDataFrame(probe).toDF("doc", "key"), "key", "doc")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val probeSet = probe.map(_._2).toSet
    val want = corpus.groupBy(_._1).flatMap { case (doc, rs) =>
      val shared = rs.map(_._2).distinct.filter(probeSet)
      val benchDocs = probe.filter(p => shared.contains(p._2)).map(_._1).distinct
      if (shared.nonEmpty) Some(doc -> ((shared.size.toLong, benchDocs.size.toLong)))
      else None
    }
    assert(got == want)
  }

  test("profile equals driver-computed column statistics (nulls, strings, numerics)") {
    val rng = new scala.util.Random(71)
    val rows = (0 until 200).map { i =>
      (i.toLong,
       if (rng.nextInt(4) == 0) null else s"c${rng.nextInt(9)}",
       if (rng.nextInt(5) == 0) null else java.lang.Double.valueOf(rng.nextInt(100) / 4.0))
    }
    val df = s.createDataFrame(rows).toDF("id", "cat", "num")
    val got = G.profile(df, Seq("cat", "id", "num")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    val cats = rows.map(_._2).filter(_ != null)
    val nums = rows.map(_._3).filter(_ != null).map(_.doubleValue)
    assert(got("cat") == ((200L, cats.size.toLong, cats.distinct.size.toLong, None, None)))
    assert(got("id") == ((200L, 200L, 200L, Some(0.0), Some(199.0))))
    assert(got("num") == ((200L, nums.size.toLong, nums.distinct.size.toLong,
      Some(nums.min), Some(nums.max))))
  }

  // --- retrieval-family laws: the driver cosine replays CosineSim's exact
  // left-to-right accumulation, so comparisons hold at 1e-12, and duplicate
  // corpus vectors force exact cosine ties broken by the id column.
  private def refCos(x: Seq[Double], y: Seq[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.size) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    val den = math.sqrt(nx) * math.sqrt(ny)
    val r = if (den == 0.0) 0.0 else dot / den
    if (java.lang.Double.isNaN(r)) 0.0 else r
  }

  test("cosineTopK equals the driver brute-force scan (zero vectors, duplicates, self-exclusion)") {
    val rng = new scala.util.Random(73)
    def vec() = (0 until 6).map(_ => (rng.nextInt(9) - 4).toDouble / 2.0)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    // rows 50-54 duplicate row 0's vector (exact cosine ties); 55 is all-zero
    val corpus = base ++ (50 until 55).map(i => (i.toLong, base(0)._2)) :+
      ((55L, Seq.fill(6)(0.0)))
    val probes = (0 until 8).map(i => (i.toLong, corpus(i * 3)._2))
    val cDf = s.createDataFrame(corpus).toDF("id", "vec")
    val pDf = s.createDataFrame(probes).toDF("probe_id", "probe_vec")
    val got = G.cosineTopK(cDf, pDf, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val want = probes.flatMap { case (pid, pv) =>
      corpus.filter(_._1 != pid)
        .map { case (cid, cv) => (cid, refCos(pv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(4).zipWithIndex
        .map { case ((cid, c), i) => (pid, (i + 1).toLong) -> ((cid, c)) }
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (cid, c)) =>
      assert(cid == want(k)._1 && math.abs(c - want(k)._2) < 1e-12, s"$k") }
  }

  test("ivfTopK equals the driver route-then-scan on an arbitrary cell assignment") {
    val rng = new scala.util.Random(79)
    def vec() = (0 until 6).map(_ => (rng.nextInt(9) - 4).toDouble / 2.0)
    val corpus = (0 until 60).map(i => (i.toLong, vec(), i.toLong % 4))
    val cents = (0 until 4).map(c => (c.toLong, vec()))
    val probes = (0 until 8).map(i => (i.toLong * 2, vec()))
    val got = G.ivfTopK(
        s.createDataFrame(corpus).toDF("id", "vec", "cell"),
        s.createDataFrame(cents).toDF("cell", "cvec"),
        s.createDataFrame(probes).toDF("probe_id", "probe_vec"), 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4)))).toMap
    val want = probes.flatMap { case (pid, pv) =>
      val cell = cents.map { case (c, cv) => (c, refCos(pv, cv)) }
        .sortBy { case (c, sc) => (-sc, c) }.head._1
      corpus.filter(r => r._3 == cell && r._1 != pid)
        .map { case (cid, cv, _) => (cid, refCos(pv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(3).zipWithIndex
        .map { case ((cid, c), i) => (pid, (i + 1).toLong) -> ((cell, cid, c)) }
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (cell, cid, c)) =>
      assert(cell == want(k)._1 && cid == want(k)._2 &&
        math.abs(c - want(k)._3) < 1e-12, s"$k") }
  }

  test("bm25Rank equals the driver BM25 formula on a random token stream") {
    val rng = new scala.util.Random(83)
    val lens = (0 until 40).map(d => (d.toLong, (rng.nextInt(40) + 5).toLong))
    val tokens = lens.flatMap { case (d, len) =>
      (0L until len).map(_ => (d, s"t${rng.nextInt(30)}")) }
    val query = Seq("t1", "t7", "t13", "t29")
    // topK = 100 > |docs|: every matched doc returns, so the law checks
    // scoring; the top-k cut itself is pinned by the q100 golden
    val got = G.bm25Rank(s.createDataFrame(tokens).toDF("doc", "term"),
        s.createDataFrame(lens).toDF("doc", "len"),
        "doc", "term", "len", query, topK = 100).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val nDocs = lens.size.toDouble
    val avgdl = lens.map(_._2).sum.toDouble / nDocs
    val dfC = query.map(t =>
      t -> tokens.filter(_._2 == t).map(_._1).distinct.size.toDouble).toMap
    val (k1, b) = (1.2, 0.75)
    val want = lens.flatMap { case (d, len) =>
      val tf = query.map(t => t -> tokens.count(r => r._1 == d && r._2 == t)).toMap
      if (tf.values.forall(_ == 0)) None else {
        val score = query.foldLeft(0.0) { (acc, t) =>
          if (tf(t) == 0) acc else {
            val idf = math.log(1.0 + (nDocs - dfC(t) + 0.5) / (dfC(t) + 0.5))
            acc + idf * (tf(t) * (k1 + 1.0)) /
              (tf(t) + k1 * ((1.0 - b) + b * (len.toDouble / avgdl)))
          }
        }
        Some(d -> ((tf.values.count(_ > 0).toLong, score)))
      }
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (d, (nt, sc)) =>
      assert(nt == want(d)._1 && math.abs(sc - want(d)._2) < 1e-9, s"doc $d") }
  }

  test("quantizeInt equals the driver quantizer (zero vectors, negatives, half-way codes)") {
    val rng = new scala.util.Random(89)
    val rows = (0 until 60).map(i => (i.toLong,
      if (i == 0) Seq.fill(5)(0.0)
      else (0 until 5).map(_ => (rng.nextInt(511) - 255).toDouble / 8.0)))
    val got = G.quantizeInt(s.createDataFrame(rows).toDF("id", "vec"), "vec", levels = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getSeq[Long](3).toList, r.getDouble(4)))).toMap
    rows.foreach { case (id, xs) =>
      val amax = xs.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
      val scale = amax / 7.0
      val codes = xs.map(x => if (scale == 0.0) 0L
        else math.max(-7L, math.min(7L, math.floor(x / scale + 0.5).toLong)))
      val rmse = math.sqrt(xs.zip(codes).foldLeft(0.0) { case (a, (x, q)) =>
        a + (x - q.toDouble * scale) * (x - q.toDouble * scale) } / xs.size)
      val (gs, gc, gr) = got(id)
      assert(gc == codes && math.abs(gs - scale) < 1e-15 &&
        math.abs(gr - rmse) < 1e-12, s"row $id")
    }
  }

  test("lorenz equals the driver cumulative-share scan on a duplicate-heavy support") {
    val rng = new scala.util.Random(97)
    val rows = (0 until 700).map(_ => Tuple1((rng.nextInt(25) + 1).toLong))
    val got = G.lorenz(s.createDataFrame(rows).toDF("spend"), "spend")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val vals = rows.map(_._1)
    val totC = vals.size.toDouble
    val totR = vals.sum.toDouble
    val sup = vals.groupBy(identity).map { case (v, g) => (v, g.size) }
      .toSeq.sortBy(_._1)
    var cc = 0L; var cr = 0L
    val cells = sup.map { case (v, c) =>
      cc += c; cr += v * c
      (math.ceil(cc / totC * 10.0).toLong, cc / totC, cr / totR)
    }
    val want = cells.groupBy(_._1).map { case (d, xs) =>
      d -> ((xs.map(_._2).max, xs.map(_._3).max)) }
    assert(got.keySet == want.keySet)
    got.foreach { case (d, (f, sh)) =>
      assert(math.abs(f - want(d)._1) < 1e-12 &&
        math.abs(sh - want(d)._2) < 1e-12, s"decile $d") }
  }

  test("weightedSampleK equals the driver exponential-sort draw (zero weights excluded)") {
    val rng = new scala.util.Random(101)
    val rows = (0 until 300).map(i => (i.toLong,
      if (i % 37 == 0) 0.0 else (rng.nextInt(50) + 1).toDouble / 5.0))
    val got = G.weightedSampleK(s.createDataFrame(rows).toDF("id", "w"),
        col("id"), col("w"), 12)
      .select("id").collect().map(_.getLong(0)).toSet
    def key(id: Long, w: Double): Option[Double] =
      if (w == 0.0) None else {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hex = md.digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
        Some(math.floor(math.log(u) / w * 1e10 + 0.5) / 1e10)
      }
    val want = rows.flatMap { case (id, w) => key(id, w).map(k => (id, k)) }
      .sortBy { case (id, k) => (-k, id) }.take(12).map(_._1).toSet
    assert(got == want)
  }

  test("pageRank equals the driver power iteration on a random weighted digraph") {
    val rng = new scala.util.Random(103)
    // integer weights keep per-source totals exact; dangling node 99 only
    // receives; node 98 only sends (rank floor 1 - d)
    val edges = ((0 until 150).map(_ =>
      (rng.nextInt(25).toLong, rng.nextInt(25).toLong, (rng.nextInt(9) + 1).toLong)) ++
      Seq((3L, 99L, 2L), (98L, 5L, 1L))).distinct
    val df = s.createDataFrame(edges).toDF("src", "dst", "w")
    val got = G.pageRank(df, "src", "dst", "w", iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def pin(x: Double) = math.floor(x * 1e10 + 0.5) / 1e10
    val tot = edges.groupBy(_._1).map { case (sr, es) => sr -> es.map(_._3).sum }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (sr, _, w) =>
          rank(sr) * (w.toDouble / tot(sr).toDouble) }.sum
      }
      rank = nodes.map(n =>
        n -> pin(0.15 + 0.85 * contrib.getOrElse(n, 0.0))).toMap
    }
    assert(got.keySet == rank.keySet)
    // the distributed contribution sum reorders IEEE adds; each round's
    // 10dp pin caps the compounding, so 1e-9 is a safe final tolerance
    got.foreach { case (n, r) =>
      assert(math.abs(r - rank(n)) < 1e-9, s"node $n") }
  }

  test("triangles equals the driver triple enumeration on a dup/orientation-noisy edge list") {
    val rng = new scala.util.Random(107)
    val raw = (0 until 220).map { _ =>
      val a = rng.nextInt(18).toLong; val b = rng.nextInt(18).toLong; (a, b)
    }.filter(e => e._1 != e._2)
    val df = s.createDataFrame(raw ++ raw.take(30).map(_.swap)).toDF("x", "y")
    val got = G.triangles(df, "x", "y").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = raw.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val ids = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- ids.indices; j <- (i + 1) until ids.size; k <- (j + 1) until ids.size
      (a, b, c) = (ids(i), ids(j), ids(k))
      if und((a, b)) && und((b, c)) && und((a, c))
      n <- Seq(a, b, c)
    } want(n) = want.getOrElse(n, 0L) + 1L
    assert(got == want.toMap)
  }

  test("adamicAdar equals the driver pair scan; degree-1 users drop, duplicates collapse") {
    val rng = new scala.util.Random(109)
    val raw = (0 until 260).map(_ =>
      (rng.nextInt(30).toLong, s"i${rng.nextInt(12)}"))
    val df = s.createDataFrame(raw ++ raw.take(40)).toDF("u", "i")
    val got = G.adamicAdar(df, "u", "i").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val mem = raw.distinct.groupBy(_._1).toSeq
      .map { case (u, rs) => u -> rs.map(_._2).distinct }
      .filter(_._2.size >= 2)
    val pairs = scala.collection.mutable.Map.empty[(String, String), (Long, Double)]
    mem.foreach { case (_, items) =>
      val w = 1.0 / math.log(items.size.toDouble)
      for (a <- items; b <- items if a < b) {
        val (c0, s0) = pairs.getOrElse((a, b), (0L, 0.0))
        pairs((a, b)) = (c0 + 1L, s0 + w)
      }
    }
    assert(got.keySet == pairs.keySet)
    got.foreach { case (k, (c, aa)) =>
      assert(c == pairs(k)._1 && math.abs(aa - pairs(k)._2) < 1e-9, s"$k") }
  }

  private def sha8(sv: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.lang.Long.parseLong(
      md.digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
  }

  test("hashBucket/hashSample equal the driver sha256 scan with per-stratum rates") {
    val rng = new scala.util.Random(113)
    val rows = (0 until 600).map(i =>
      (i.toLong, if (rng.nextBoolean()) "big" else "small"))
    val df = s.createDataFrame(rows).toDF("id", "stratum")
    val rate = when(col("stratum") === "big", lit(40)).otherwise(lit(10))
    val got = G.hashSample(df, col("id"), rate)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = rows.filter { case (id, st) =>
      sha8(id.toString) % 100 < (if (st == "big") 40 else 10) }.map(_._1).toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < rows.size)
    // the bucket itself is content-stable: a second run over a reshuffled
    // frame keeps the identical set
    val again = G.hashSample(df.repartition(7), col("id"), rate)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("rpLshBucket equals the driver sign-projection hash (integer-exact planes)") {
    val rng = new scala.util.Random(127)
    val dims = 6; val nPlanes = 10
    val rows = (0 until 120).map(i => (i.toLong,
      (0 until dims).map(_ => (rng.nextInt(2001) - 1000).toDouble / 1000.0)))
    val df = s.createDataFrame(rows).toDF("id", "vec")
    val got = G.rpLshBucket(df, "vec", dims, nPlanes)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planes = (0 until nPlanes).map(p => (0 until dims).map { i =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"${p}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.head <= '7') 1L else -1L
    })
    val want = rows.map { case (id, xs) =>
      val qv = xs.map(x => math.floor(x * 1000.0 + 0.5).toLong)
      id -> (0 until nPlanes).foldLeft(0L) { (acc, p) =>
        val dot = (0 until dims).map(i => planes(p)(i) * qv(i)).sum
        acc + (if (dot >= 0L) 1L << p else 0L)
      }
    }.toMap
    assert(got == want)
  }
}
