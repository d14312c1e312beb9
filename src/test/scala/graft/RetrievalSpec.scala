package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariants for the retrieval/vector family (q100-q103) beyond the DuckDB
  * oracle: ranking sanity, quantization error bounds, cluster resolution
  * keep-exactly-one, LSH bucket well-formedness. */
class RetrievalSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val d = TestSpark.sf001 // sf0.01 — the driver's verification SF

  test("q100 BM25: scores sorted, every hit matches a query term, rare term outranks") {
    val rows = operators.Retrieval.q100(s, d).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sortBy(-_)), "bm25 must be sorted descending")
    rows.foreach { r =>
      val t = r.getLong(1)
      assert(t >= 1 && t <= 3, s"n_terms $t out of range")
    }
    // every returned doc really contains at least one query term
    val ids = rows.map(_.getLong(0)).toSeq
    val withTerm = Tables.documents(s, d)
      .filter(col("doc_id").isin(ids: _*))
      .filter(col("text").rlike("\\b(hash|join|dup)\\b"))
      .count()
    assert(withTerm == ids.length, "a ranked doc contains no query term")
    // 'dup' is ~30x rarer than 'hash'/'join' → its idf dominates: the top
    // hit must contain it (rank cannot be bought with common terms alone)
    val topText = Tables.documents(s, d)
      .filter(col("doc_id") === rows.head.getLong(0))
      .select("text").collect().head.getString(0)
    assert(topText.split(" ").contains("dup"), "top BM25 hit lacks the rare term")
  }

  test("q101 cluster keep: exactly one keeper per component, and it has max quality") {
    val out = operators.Curation.q101(s, d).cache()
    try {
      val perComp = out.groupBy("component")
        .agg(sum(when(col("keep"), 1).otherwise(0)).as("keeps"),
          count(lit(1)).as("n"))
        .collect()
      assert(perComp.nonEmpty)
      perComp.foreach(r => assert(r.getLong(1) == 1L,
        s"component ${r.get(0)} has ${r.getLong(1)} keepers"))
      // the keeper's quality is the component max (ties broken by doc_id,
      // which can only pick a doc with the same, equal-max quality)
      val bad = out.groupBy("component").agg(
        max("quality").as("maxq"),
        max(when(col("keep"), col("quality"))).as("keptq"))
        .filter(col("maxq") =!= col("keptq")).count()
      assert(bad == 0, s"$bad components kept a non-best doc")
      // resolution is consistent with q93: same components, same sizes
      assert(out.select("doc_id", "component", "csize").collect().toSet ==
        operators.Curation.q93(s, d).collect().toSet)
    } finally out.unpersist()
  }

  test("q102 quantization: 64 int8 codes per vector, RMSE within half a step") {
    val rows = operators.Retrieval.q102(s, d).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(",").map(_.toLong)
      assert(codes.length == 64)
      assert(codes.forall(q => q >= -127 && q <= 127))
      // per-element |error| <= scale/2 (round-half-up) → RMSE <= scale/2
      assert(r.getDouble(3) <= scale / 2 + 1e-9,
        s"vec ${r.getLong(0)}: rmse ${r.getDouble(3)} exceeds scale/2 ${scale / 2}")
    }
  }

  test("q103 RP-LSH: 16-bit buckets, sizes consistent, assignment deterministic") {
    val out = operators.Retrieval.q103(s, d).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val b = r.getLong(1)
      assert(b >= 0L && b < 65536L, s"bucket $b outside 16 bits")
    }
    // bsize really is the bucket's population in this output
    val byBucket = out.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    out.foreach(r => assert(r.getLong(2) == byBucket(r.getLong(1)).toLong))
    // pure function of the data: a second evaluation is identical
    assert(operators.Retrieval.q103(s, d).collect().toSeq == out.toSeq)
  }

  test("ANN pipeline: IVF probe over q204-built centroids recovers the brute-force top-1 for >= 80% of probes") {
    // The composed build -> assign -> probe story (VERDICT r7 task 4):
    // q204's coarse quantizer feeds the q85-shaped IVF probe, and the
    // result must agree with q71's exhaustive scan on most probes — the
    // standard recall@1 acceptance bar for an nprobe=1 index.
    val cents = operators.Retrieval.kmeansCentroids(s, d)
    val ivfTop1 = operators.Retrieval.ivfProbe(s, d, cents, k = 3)
      .filter(col("rnk") === 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val bruteTop1 = operators.LlmPipeline.q71(s, d)
      .filter(col("rnk") === 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ivfTop1.keySet == bruteTop1.keySet, "probe sets differ")
    val hits = bruteTop1.count { case (p, c) => ivfTop1(p) == c }
    assert(hits >= (bruteTop1.size * 8 + 9) / 10,
      s"IVF recall@1 only $hits/${bruteTop1.size} vs brute force")
    // every IVF rank list is well-formed: ranks 1..k, cosine non-increasing
    val lists = operators.Retrieval.ivfProbe(s, d, cents, k = 3).collect()
      .groupBy(_.getLong(0))
    lists.values.foreach { rows =>
      val byRank = rows.sortBy(_.getLong(2))
      assert(byRank.map(_.getLong(2)).toSeq == (1L to byRank.length).toSeq)
      val cs = byRank.map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // nprobe is the recall knob: widening the probe list can only help —
    // recall@1 vs brute force must be non-decreasing in nprobe, and by
    // nprobe = |cells| the search is exhaustive, so recall must be 100%
    def recallAt(np: Int): Int = {
      val t1 = operators.Retrieval.ivfProbe(s, d, cents, k = 3, nprobe = np)
        .filter(col("rnk") === 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      bruteTop1.count { case (p, c) => t1.get(p).contains(c) }
    }
    val nCells = cents.count().toInt
    val r1 = hits
    val r2 = recallAt(2)
    val rAll = recallAt(nCells)
    assert(r2 >= r1, s"recall fell when widening nprobe 1 -> 2 ($r1 -> $r2)")
    assert(rAll == bruteTop1.size,
      s"nprobe = |cells| must be exhaustive ($rAll/${bruteTop1.size})")
  }

  test("q252 PCA: eigenpair residual, dominance over every diagonal variance, unit norm") {
    // independent covariance: brute-force from the raw vectors in Scala
    val vecs = Tables.embeddings(s, d)
      .select(org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = vecs.length
    val dim = vecs.head.length
    val mu = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      vecs.map(v => (v(i) - mu(i)) * (v(j) - mu(j))).sum / (n - 1)
    }
    val out = operators.Retrieval.q252(s, d).collect().sortBy(_.getLong(0))
    assert(out.length == dim)
    val v = out.map(_.getDouble(1))
    val lambda = out.head.getDouble(2)
    val share = out.head.getDouble(3)
    assert(lambda > 0.0 && share > 0.0 && share <= 1.0)
    // unit norm survives the 5 dp pin
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3, s"loading norm $norm")
    // Cov v = lambda v within pin + convergence tolerance
    val cv = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * v(j)).sum)
    val resid = cv.zip(v).map { case (a, b) => math.abs(a - lambda * b) }.max
    assert(resid <= 1e-2 * lambda + 1e-4, s"eigen residual $resid vs lambda $lambda")
    // the top eigenvalue dominates every single-dimension variance
    val maxDiag = (0 until dim).map(i => cov(i)(i)).max
    assert(lambda >= maxDiag - 1e-6)
    // trace-based share consistency: share == lambda / trace under pins
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    assert(math.abs(share - lambda / trace) < 1e-3)
  }

  test("q264 logreg step: normal equations hold vs brute force; the step separates the classes") {
    // independent features from the raw corpus
    val docs = Tables.documents(s, d)
      .select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map { r =>
        val words = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
        val y = if (r.getString(0) == "en") 1.0 else 0.0
        (y, Array(1.0, words.length / 100.0,
          words.map(_.length).sum.toDouble / words.length))
      }
    val dd = 3
    val xtx = Array.tabulate(dd, dd) { (i, j) =>
      docs.map { case (_, x) => x(i) * x(j) }.sum
    }
    val g = Array.tabulate(dd)(i => docs.map { case (y, x) => x(i) * (y - 0.5) }.sum)
    val out = operators.Retrieval.q264(s, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val beta = Array(out("intercept")._1, out("words_per_100")._1,
      out("avg_word_len")._1)
    // score at beta=0 matches brute force under the 5 dp pin
    assert(math.abs(out("intercept")._2 - g(0)) < 1e-4 + 1e-9)
    // normal equations: XtX . beta = 4 g (pinned betas -> proportional slack)
    for (i <- 0 until dd) {
      val lhs = (0 until dd).map(j => xtx(i)(j) * beta(j)).sum
      val slack = 1e-5 * (0 until dd).map(j => math.abs(xtx(i)(j))).sum + 1e-6
      assert(math.abs(lhs - 4.0 * g(i)) <= slack,
        s"normal eq $i: $lhs vs ${4.0 * g(i)} (slack $slack)")
    }
    // the Newton step moves toward separating the classes
    val (en, non) = docs.partition(_._1 == 1.0)
    def logit(x: Array[Double]) = (0 until dd).map(j => beta(j) * x(j)).sum
    val mEn = en.map(dc => logit(dc._2)).sum / en.length
    val mNon = non.map(dc => logit(dc._2)).sum / non.length
    assert(mEn > mNon, s"step failed to separate: en $mEn vs non-en $mNon")
  }

  // ---- r10: constructed-fixture goldens for the two no-oracle solvers ----
  // The corpus invariants above bind q252/q264 on real data via residuals;
  // these fixtures pin exact VALUES against a by-hand eigensolve / normal-
  // equation solve, so a silent solver regression (wrong normalization,
  // swapped index, dropped factor of 4) cannot pass both.

  test("q252 golden: hand-solved 3-dim eigenpair comes out exactly") {
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_g252").toString
    // 4 vectors, mean 0: Cov = [[10/3, 2, 0], [2, 10/3, 0], [0, 0, 0]].
    // Eigenvectors (1,1,0)/sqrt2 with lambda = 10/3 + 2 = 16/3 and
    // (1,-1,0)/sqrt2 with 10/3 - 2 = 4/3; trace 20/3, share = 16/20 = 0.8.
    Seq((1L, Seq(2.0f, 2.0f, 0.0f)), (2L, Seq(-2.0f, -2.0f, 0.0f)),
        (3L, Seq(1.0f, -1.0f, 0.0f)), (4L, Seq(-1.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Retrieval.q252(s, dir).collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // 1/sqrt2 pins to 0.70711 at 5 dp; 16/3 pins to 5.3333 at 4 dp
    assert(got.toSeq == Seq((1L, 0.70711, 5.3333, 0.8),
      (2L, 0.70711, 5.3333, 0.8), (3L, 0.0, 5.3333, 0.8)))
  }

  test("q252 degenerate: single-vector and constant corpora yield nulls, not NaN") {
    import TestSpark.spark.implicits._
    for ((tag, vecs) <- Seq(
        "single" -> Seq((1L, Seq(1.0f, 2.0f, 3.0f))),
        "constant" -> Seq((1L, Seq(1.0f, 2.0f, 3.0f)),
          (2L, Seq(1.0f, 2.0f, 3.0f)), (3L, Seq(1.0f, 2.0f, 3.0f))))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_d252$tag").toString
      vecs.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = operators.Retrieval.q252(s, dir).collect()
      assert(got.length == 3, s"$tag: expected one row per dim")
      got.foreach { r =>
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
          s"$tag corpus must null the eigenpair, got $r")
      }
    }
  }

  test("q264 golden: hand-solved 6-doc normal equations give beta = (2, -4/3, 0)") {
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_g264").toString
    // features x = [1, nw/100, nc/nw]; docs built so X^T X = [[6,9,24],
    // [9,15,36],[24,36,100]] and X^T(y-1/2) = (0,-1/2,0); solving
    // A beta = 4g by hand: beta = (2, -4/3, 0).
    def doc(nw: Int, len: Int): String = Seq.fill(nw)("abcdefghi".take(len)).mkString(" ")
    Seq((1L, doc(100, 3), "en"), (2L, doc(200, 4), "en"), (3L, doc(100, 5), "en"),
        (4L, doc(100, 4), "fr"), (5L, doc(200, 3), "fr"), (6L, doc(200, 5), "fr"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Retrieval.q264(s, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // all sums are exact small binary fractions, so the pinned output is
    // exact: -4/3 pins to -1.33333 at 5 dp
    assert(got("intercept") == ((2.0, 0.0)))
    assert(got("words_per_100") == ((-1.33333, -0.5)))
    assert(got("avg_word_len") == ((0.0, 0.0)))
  }

  test("q209 sketch path agrees with the exact rank within one bucket mass, facade switches on size") {
    // the histogram-CDF sketch is the >1 M-vector path of rankNormalize;
    // bind it to the exact support-grain rank at oracle SF: same shape,
    // per-cell |Δqn| bounded by interpolation error (≤ ~1/bins on smooth
    // per-dim distributions; 0.02 allows small-n discreteness at n=500)
    val exact = operators.Retrieval.quantileNormExact(s, d)
    val sketch = operators.Retrieval.quantileNormSketch(s, d)
    val joined = exact.withColumnRenamed("qn", "qe")
      .join(sketch.withColumnRenamed("qn", "qs"), Seq("vec_id", "i"))
      .cache()
    try {
      val nExact = exact.count()
      assert(joined.count() == nExact, "sketch output shape differs from exact")
      val worst = joined.agg(max(abs(col("qe") - col("qs")))).head().getDouble(0)
      assert(worst <= 0.02, s"sketch rank diverges from exact by $worst")
      // ranks are ranks: both land in [0, 1]
      val oob = joined.filter(col("qs") < 0.0 || col("qs") > 1.0).count()
      assert(oob == 0, s"$oob sketch ranks outside [0,1]")
    } finally joined.unpersist()
    // facade: exact at/under the threshold, sketch above it (500 vectors
    // here, so a tiny threshold forces the sketch branch)
    assert(operators.Retrieval.rankNormalize(s, d).collect().toSeq ==
      exact.collect().toSeq, "facade must take the exact branch at oracle SF")
    assert(operators.Retrieval.rankNormalize(s, d, sketchAboveVectors = 10L)
      .collect().toSeq == sketch.collect().toSeq,
      "facade must take the sketch branch above the threshold")
  }

  test("rankNormalize's size probe memoizes: repeat calls run no count job") {
    // r11 verdict task #3: the facade used to run a parquet count job on
    // EVERY invocation to pick exact-vs-sketch. memoizedCount keeps the
    // cardinality in the session's value memo; prove repeat calls read
    // the memo: once both branches have been built, building them again
    // (and re-reading the count) runs zero Spark jobs
    val real = graft.Tables.memoizedCount(s, d, "embeddings")
    assert(real == Tables.embeddings(s, d).count(), "memoized count wrong")
    def build() = (graft.Tables.memoizedCount(s, d, "embeddings"),
      operators.Retrieval.rankNormalize(s, d, sketchAboveVectors = real - 1),
      operators.Retrieval.rankNormalize(s, d, sketchAboveVectors = real))
    build()
    val sc = s.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("sizeprobe")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    val (count, above, atThreshold) = try {
      sc.setJobGroup("sizeprobe", "repeat build")
      val built = build()
      // listener events arrive in order: once this job's start is seen,
      // every earlier one has been delivered
      sc.setJobGroup("sizeprobe~end", "end")
      s.range(1).count()
      val deadline = System.nanoTime() + 60000000000L
      while (!groups.contains("sizeprobe~end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("sizeprobe~end"), "listener never saw the end marker job")
      built
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!groups.contains("sizeprobe"),
      "repeat memoizedCount / facade build ran a Spark job — it recounted")
    assert(count == real, "repeat memoizedCount changed value")
    // and the facade's path choice flows through the same count: above
    // the threshold it must pick the sketch, at it the exact plan
    // (canonicalized plans normalize exprIds, so two independent builds
    // of the same logical plan compare equal)
    val sketch = operators.Retrieval.quantileNormSketch(s, d)
      .queryExecution.analyzed.canonicalized
    val exact = operators.Retrieval.quantileNormExact(s, d)
      .queryExecution.analyzed.canonicalized
    assert(above.queryExecution.analyzed.canonicalized == sketch &&
      atThreshold.queryExecution.analyzed.canonicalized == exact && sketch != exact,
      "facade ignored the memoized cardinality")
  }

  test("q264 degenerate: collinear features null the betas but keep the scores") {
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d264").toString
    // every doc has nw = 100, so words_per_100 == 1 == the intercept
    // column -> X^T X is singular; betas must be null, score0 still exact
    def doc(len: Int): String = Seq.fill(100)("abcdefghi".take(len)).mkString(" ")
    Seq((1L, doc(3), "en"), (2L, doc(4), "en"),
        (3L, doc(5), "fr"), (4L, doc(4), "fr"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = operators.Retrieval.q264(s, dir).collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.isNullAt(1), s"beta must be null, got $r"))
    val g = rows.map(r => r.getString(0) -> r.getDouble(2)).toMap
    // g = X^T(y-1/2): g0 = 0, g1 = 0 (same column), g2 = (3+4-5-4)/2 = -1
    assert(g("intercept") == 0.0 && g("words_per_100") == 0.0 &&
      g("avg_word_len") == -1.0)
  }
}
