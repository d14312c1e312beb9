package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval / vector-infrastructure operators for the training-data
  * pipeline: lexical ranking (BM25), embedding storage quantization, and a
  * second ANN bucketing scheme (signed random projections) alongside q85's
  * IVF cells.
  *
  * Scale notes:
  * - q100 (BM25): the two corpus statistics (doc count, mean doc length)
  *   are a ONE-ROW relation and the per-term document frequencies are
  *   |query| rows — both broadcast; everything else is partial-aggregated
  *   on (doc_id, term) then joined on doc_id. Linear in corpus size, and
  *   the term filter runs BEFORE any shuffle, so the shuffled volume is
  *   proportional to query-term hits, not the corpus.
  * - q102 (int8 quantization): entirely row-local (fold + map over the
  *   vector), zero shuffles beyond the output order — at 100 TB this is a
  *   pure map stage that cuts vector storage 4x before any downstream
  *   similarity pass.
  * - q103 (random-projection LSH): the 16x64 sign matrix is a determinstic
  *   pure function of (plane, dim) via sha256 — reproducible on any
  *   cluster, no RNG state, no fit step (vs MinHashLSH's fitted model).
  *   It collapses to a single broadcast row; bucket assignment is then
  *   row-local integer arithmetic (components pre-quantized to ints so the
  *   signed sums are exact in BOTH engines — float sums would be
  *   order-sensitive). The only shuffle is the bucket-size count. This is
  *   the cosine-true LSH scale path: candidate pairs share a 16-bit
  *   bucket, never all-pairs.
  */
object Retrieval {

  /** BM25 ranking (k1=1.2, b=0.75, Lucene idf) for the fixed query
    * {hash, join, dup} — top-20 docs. Per-term scores are summed in FIXED
    * term order via conditional aggregation: a plain sum(score) over terms
    * would be order-nondeterministic in IEEE doubles across engines. */
  def q100(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bm25Rank(
        TextPipeline.words1(s, d).select(col("doc_id"), col("w")),
        TextPipeline.docWords(s, d).filter(size(col("words")) >= 1)
          .select(col("doc_id"), size(col("words")).cast("long").as("dl")),
        "doc_id", "w", "dl", Seq("hash", "join", "dup"))
      .select(col("doc_id"), col("n_terms"), r4(col("score")).as("bm25"))

  /** Symmetric int8 embedding quantization: scale = max|x|/127, q_i =
    * round-half-up(x_i/scale), plus the reconstruction RMSE. The round is
    * the §2.9.2 floor(x+0.5) formula and the RMSE fold is sequential
    * (Spark `aggregate` ≡ DuckDB `list_reduce`), so both engines produce
    * bit-identical output. */
  def q102(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.quantizeInt(embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")), "v")
      .select(col("vec_id"), col("scale"),
        expr("array_join(transform(codes, qi -> CAST(qi AS STRING)), ',')").as("qsig"),
        rnd(col("rmse"), 6).as("rmse"))
      .orderBy("vec_id")

  /** Signed-random-projection LSH buckets: 16 hyperplanes whose ±1 signs
    * come from sha256(plane, dim); bucket bit p = sign of the plane-p dot
    * product over milli-quantized components (exact integer arithmetic).
    * Output: each vector's 16-bit bucket and its bucket's population.
    * The bucket computes through the native codegen'd
    * [[graft.plans.RpBucket]] expression — one fused integer loop nest
    * per row; the interpreted nested-HOF form it replaces walked 16×64
    * boxed lambda steps per row (~10 s for 2k rows at sf0.1, caught when
    * the r10 bench action stopped letting Catalyst prune the column).
    * The bucket population comes from a window count — a groupBy+join
    * back would re-evaluate the projection pipeline for the second
    * reference (measured 2x the query's time). */
  def q103(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.rpLshBucket(embeddings(s, d), "embedding", dims = 64)
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
      .select("vec_id", "bucket", "bsize").orderBy("vec_id")

  /** Inverted-index construction — the build side of q100's BM25 scoring:
    * for the 20 highest-df terms, the document frequency, total term count,
    * and the head of the posting list (top-5 docs by tf) serialized
    * "doc:tf,…" (array cells are unhashable in the driver's pandas harness
    * — the q27 lesson). The retrieval-infrastructure artifact every search
    * stack materializes.
    *
    * Scale: one (term, doc) aggregation (map-side combinable), df counts
    * at term grain, per-term top-5 via the rank window — posting-list
    * HEADS are bounded by construction; full posting lists would be
    * emitted as (term, doc, tf) rows, never collected. */
  def q153(s: SparkSession, d: String): DataFrame = {
    val tf = TextPipeline.words1(s, d)
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("w")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
    val top = tf.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("w")
          .orderBy(col("tf").desc, col("doc_id"))))
      .filter(col("rn") <= 5)
      .groupBy("w")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("doc_id"), col("tf")))),
        x => concat_ws(":", x.getField("doc_id"), x.getField("tf"))), ",")
        .as("head_postings"))
    stats.join(top, "w")
      .select("w", "df", "total_tf", "head_postings")
      .orderBy(col("df").desc, col("w"))
      .limit(20)
  }

  /** Reciprocal-rank fusion of a LEXICAL and a SEMANTIC ranker — the
    * standard hybrid-retrieval combiner (RRF, Cormack et al.): top-20 from
    * q100's BM25 ({hash, join, dup} query) fused with the top-20 cosine
    * neighbors of probe vector 0, fused score Σ 1/(60+rank) over the
    * rankers that returned the doc, top-10. Rank-based fusion needs no
    * score calibration between rankers — exactly why production retrieval
    * stacks use it over score interpolation.
    *
    * Determinism: ranks are exact integers from already-pinned scores with
    * doc tiebreaks; 1/(60+r) is the identical IEEE division in both
    * engines and the fused sum has ≤2 addends — bit-identical, pinned 5 dp
    * at the edge. Scale: both ranker outputs are top-k-bounded (20 rows),
    * so every window here is k-sized; the heavy lifting (BM25 posting
    * join, cosine scan) is the already-scale-audited q71/q100 machinery. */
  def q159(s: SparkSession, d: String): DataFrame = {
    graft.plans.CosineSim.register(s)
    val W = org.apache.spark.sql.expressions.Window
    val lex = q100(s, d)
      .withColumn("r_lex", row_number().over(
        W.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "r_lex")
    val e = embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("p"))
    val sem20 = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        graft.Tables.r5(expr("cosine_sim(p, v)")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
    val sem = sem20.withColumn("r_sem", row_number().over(
        W.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "r_sem")
    lex.join(sem, Seq("doc_id"), "full")
      .select(col("doc_id"), col("r_lex"), col("r_sem"),
        graft.Tables.r5(
          coalesce(lit(1.0) / (lit(60L) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("r_sem")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** MMR diversity re-rank (Carbonell & Goldstein 1998) of probe-0's
    * cosine top-10: greedily select 5, each step maximizing
    * λ·rel(i) − (1−λ)·max_{s∈selected} sim(i,s) with λ=0.7 — the standard
    * redundancy-penalized re-ranker that stops a retrieval page (or a RAG
    * context window) being five near-copies of the same hit. Output:
    * selection rank, relevance, the similarity actually penalized, and
    * the MMR score at pick time.
    *
    * Determinism: rel and the 10×10 sim matrix are 5 dp-pinned BEFORE the
    * greedy loop, the MMR combination is identical 2-term arithmetic on
    * pinned values, and every argmax tiebreaks on cand id — the selection
    * sequence is exactly reproducible cross-engine. Scale: the corpus-
    * proportional work is ONE brute-force probe scan (q71's audited map
    * pass); everything after operates on a localCheckpointed ≤10-row pool
    * (k² sims, 4 unrolled greedy steps) — constant-size no matter the
    * corpus, and the checkpoint stops the tiny pool's lineage from
    * re-running the scan per step. */
  def q170(s: SparkSession, d: String): DataFrame = {
    graft.plans.CosineSim.register(s)
    // r15: the ANN family's shared vector memo instead of an inline
    // scan+cast — both the probe lookup and the pool pass were re-running
    // the per-element transform over the raw parquet
    val e = embVecs(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("p"))
    val pool = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("cand"), col("v"),
        graft.Tables.r5(expr("cosine_sim(p, v)")).as("rel"))
      .orderBy(col("rel").desc, col("cand")).limit(10)
    // r15: the pool is ≤10 rows BY CONSTRUCTION (limit 10), and the old
    // per-pick DataFrame loop (anti-join + sim join + agg + limit +
    // localCheckpoint, four times) ran ~27 sequential scheduling rounds
    // over ≤10-row frames — 1.4 s wall against 0.13 s of summed task time
    // (Profile, r15), pure driver round-trip latency. The greedy MMR over
    // the collected pool is DRIVER arithmetic (guide §5 forbids driver
    // DATA work; 10 rows and 45 pair sims are not data work): the pairwise
    // cosine replicates graft.plans.CosineSim.nullSafeEval exactly (same
    // left-to-right accumulation, same zero-norm/NaN→0.0 conventions) and
    // the pin replicates Tables.r5's floor(x·1e5 + 0.5)/1e5 in the same
    // IEEE doubles, so every emitted value is bit-identical to the old
    // distributed plan. Tie/ordering semantics match Spark's
    // (desc = NaN largest first, NULLS LAST; candidate id ascending).
    val poolRows = pool.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        // a NULL element's value slot is zeroed in Spark's array layout,
        // so 0.0 here reproduces what CosineSim's getDouble read
        else r.getSeq[java.lang.Double](1)
          .map(x => if (x == null) 0.0 else x.doubleValue).toArray,
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))
    }
    def cos(a: Array[Double], b: Array[Double]): java.lang.Double = {
      if (a == null || b == null) return null
      require(a.length == b.length, "cosine_sim: length mismatch")
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      val res = if (denom == 0.0) 0.0 else dot / denom
      if (java.lang.Double.isNaN(res)) 0.0 else res
    }
    def r5l(x: java.lang.Double): java.lang.Double =
      if (x == null) null else math.floor(x * 100000.0 + 0.5) / 100000.0
    // (desc-with-NaN-largest, NULLS LAST, id asc) — Spark's orderBy order
    def better(x: (java.lang.Double, Long), y: (java.lang.Double, Long)): Boolean =
      (x._1, y._1) match {
        case (null, null) => x._2 < y._2
        case (null, _) => false
        case (_, null) => true
        case (a, b) =>
          val c = java.lang.Double.compare(a, b)
          if (c != 0) c > 0 else x._2 < y._2
      }
    val sim = poolRows.flatMap { case (ca, va, _) =>
      poolRows.collect { case (cb, vb, _) if ca != cb =>
        (ca, cb) -> r5l(cos(va, vb)) }
    }.toMap
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, java.lang.Double, java.lang.Double, java.lang.Double)]
    if (poolRows.nonEmpty) {
      val first = poolRows.map(p => (p._3, p._1)).reduceLeft((x, y) =>
        if (better(x, y)) x else y)
      val firstRel = first._1
      picked += ((1L, first._2, firstRel, java.lang.Double.valueOf(0.0),
        r5l(if (firstRel == null) null else 0.7 * firstRel)))
      for (t <- 2 to math.min(5, poolRows.length)) {
        val selected = picked.map(_._2).toSet
        val scored = poolRows.filterNot(p => selected(p._1)).map { p =>
          val sims = picked.flatMap(s => Option(sim((p._1, s._2))))
          val maxSim: java.lang.Double =
            if (sims.isEmpty) null
            else sims.reduceLeft((a, b) =>
              if (java.lang.Double.compare(a, b) >= 0) a else b)
          val mmr = r5l(
            if (p._3 == null || maxSim == null) null
            else 0.7 * p._3 - 0.3 * maxSim)
          (p._1, p._3, maxSim, mmr)
        }
        val best = scored.map(x => (x._4, x._1)).reduceLeft((x, y) =>
          if (better(x, y)) x else y)
        val row = scored.find(_._1 == best._2).get
        picked += ((t.toLong, row._1, row._2, row._3, row._4))
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("cand_id", LongType, nullable = false),
      StructField("rel", DoubleType), StructField("max_sim", DoubleType),
      StructField("mmr", DoubleType)))
    s.createDataFrame(
      java.util.Arrays.asList(picked.sortBy(_._1).map(p =>
        org.apache.spark.sql.Row(p._1, p._2, p._3, p._4, p._5)).toSeq: _*),
      schema)
  }

  /** Two unrolled Lloyd iterations of k-means (k=8) over the embedding
    * corpus — assignment → centroid update → reassignment → per-cluster
    * size and inertia. The native-SQL clustering step every IVF/coarse-
    * quantizer build runs (q85's cells are exactly this with more
    * rounds); unrolled so BOTH engines execute the identical dataflow
    * with no model object in the loop.
    *
    * Determinism: seeds are the 8 lowest vec_ids; every squared-L2 is a
    * strictly SEQUENTIAL 64-term fold (identical IEEE order in both
    * engines — Spark `aggregate`, DuckDB `list_reduce`), so distances
    * are bit-identical and the argmin (min-dist join-back, centroid-id
    * tiebreak) cannot drift; updated centroid coordinates pin at 10 dp
    * (per-dim averages are the one summation-order-dependent step);
    * per-cluster inertia pins at 4 dp. Scale: assignment is
    * fact × broadcast(8 centroids); the update is a (cluster, dim)-grain
    * agg — row-linear in vectors, the standard distributed Lloyd shape
    * (at real k, bucket by nprobe-style candidate lists first). */
  def q204(s: SparkSession, d: String): DataFrame = {
    val e = embVecs(s, d)
    kmAssign(e, kmeansCentroids(s, d)).groupBy("c_id")
      .agg(count(lit(1)).as("n_members"), r4(sum("dist")).as("inertia"))
      .orderBy("c_id")
  }

  /** The embedding corpus as (vec_id, v: array&lt;double&gt;) — the shared
    * vector relation of the ANN family. */
  private[graft] def embVecs(s: SparkSession, d: String): DataFrame =
    // r14: memo+cached — every ANN-family key (q85/q204/q209/q251/q252)
    // re-ran the scan + per-element cast; the relation is one row per
    // vector (corpus-proportional but array-compact, like `ratings`)
    graft.Tables.memoized(s, d, "embvecs") {
      embeddings(s, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    }

  /** One Lloyd assignment pass: each vector to its nearest centroid by
    * squared L2 (min-dist join-back, centroid-id tiebreak) — the shape
    * shared by q204's build and [[ivfProbe]]'s cell assignment. Input
    * `cents` is (c_id, cv); always dimension-sized, so it broadcasts. */
  private[graft] def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    // r14: squared L2 via the codegen'd sq_dist expression — the HOF fold
    // it replaces ran interpreted |vectors|×|centroids| times inside a
    // twice-referenced subtree (guide §4; bit-identical accumulation)
    graft.plans.SqDist.register(e.sparkSession)
    val dists = e.crossJoin(broadcast(cents))
      .withColumn("dist", expr("sq_dist(v, cv)"))
    val m = dists.groupBy("vec_id").agg(min("dist").as("md"))
    dists.join(m, "vec_id").filter(col("dist") === col("md"))
      .groupBy("vec_id").agg(min("c_id").as("c_id"), min("md").as("dist"))
  }

  /** The q204 coarse-quantizer build itself: seed with the 8 lowest
    * vec_ids, one assignment + centroid-update round → (c_id, cv).
    * Exposed so the IVF probe ([[ivfProbe]], RetrievalSpec's composed
    * ANN-pipeline test) can consume the SAME centroids q204 reports on. */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): DataFrame = {
    val e = embVecs(s, d)
    val seeds = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    kmAssign(e, seeds).join(e, "vec_id")
      .select(col("c_id"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("c_id", "i").agg(rnd(avg("x"), 10).as("m"))
      .groupBy("c_id")
      .agg(expr("transform(sort_array(collect_list(struct(i, m))), s -> s.m)").as("cv"))
  }

  /** IVF top-k cosine probe over an arbitrary centroid table (c_id, cv):
    * candidates are assigned to cells by [[kmAssign]], each probe
    * (vec_id &lt; 10) searches its `nprobe` nearest cells (squared-L2
    * centroid distance, c_id tiebreak) and ranks candidates by cosine.
    * This is q85's plan shape generalized from the label centroids to any
    * coarse quantizer — composed with [[kmeansCentroids]] it is the full
    * build→assign→probe ANN pipeline; nprobe is the standard
    * recall-vs-cost knob. */
  private[graft] def ivfProbe(s: SparkSession, d: String, cents: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame = {
    graft.plans.CosineSim.register(s)
    graft.plans.SqDist.register(s)
    val w = org.apache.spark.sql.expressions.Window
    val e = embVecs(s, d)
    val cands = e.join(kmAssign(e, cents).select(col("vec_id"), col("c_id").as("cell")),
        "vec_id")
      .select(col("vec_id").as("cand_id"), col("cell"), col("v").as("c"))
    val probeCells = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("p"))
      .crossJoin(broadcast(cents))
      .withColumn("cdist", expr("sq_dist(p, cv)"))
      .withColumn("rn", row_number().over(
        w.partitionBy("probe_id").orderBy(col("cdist"), col("c_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("p"), col("c_id").as("cell"))
    cands.join(broadcast(probeCells), "cell")
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("cos", r5(expr("cosine_sim(p, c)")))
      .withColumn("rnk", row_number().over(
        w.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select("probe_id", "cell", "rnk", "cand_id", "cos")
      .orderBy("probe_id", "rnk")
  }

  /** Per-dimension quantile (rank) normalization of the embedding matrix —
    * each coordinate replaced by its percent-rank within its dimension,
    * the distribution-free feature-prep step that makes per-dim scales
    * comparable before distance work (the rank half of rank-gauss;
    * q102's quantizer assumes symmetric scales, this one doesn't).
    * Long-form output (vec_id, dim, qn) — the assembled-array form is a
    * groupBy collect away, kept exploded for the oracle's sake.
    *
    * Determinism: percent_rank is the exact rational (rank−1)/(n−1) with
    * rank total-ordered by (value, vec_id) — no ties, identical doubles
    * both engines (6 dp pin belt-and-braces). Scale: a dimension-
    * partitioned percent_rank window caps parallelism at 64 tasks
    * forever (AQE cannot split a window partition), so the rank is
    * REBUILT from supports: per-(dim, value) counts, cumulative
    * count-below via [[graft.api.Graft.groupedPrefixSum]] (parallel in
    * dims × blocks), a custkey-style tie window partitioned by
    * (dim, value) — support-sized partitions — and the closed form
    * (below + tie_rank − 1)/(n − 1). Memory trade: the support relation
    * is up to one row per (dim, value) pair — same order as the exploded
    * input (row-linear), shuffled on (dim, value) instead of funneled
    * into 64 sort tasks.
    *
    * Cardinality ceiling (measured, SCALING.md r10): the support grain is
    * row-linear, so its shuffle+join degrades toward fact scale in the
    * third decade (8.7×, 155 s at 2 M vectors) — the one steep curve that
    * is plan shape, not a memory ceiling. [[rankNormalize]] is therefore
    * the facade: exact here while the corpus is under the support-size
    * threshold, [[quantileNormSketch]]'s histogram-CDF above it. */
  def q209(s: SparkSession, d: String): DataFrame = rankNormalize(s, d)

  /** Adaptive facade over the two rank-normalization plans: the EXACT
    * support-grain rank (oracle semantics, [[quantileNormExact]]) while
    * the vector count — an upper bound on every dimension's value
    * support — is at or under `sketchAboveVectors`, the bounded-grain
    * histogram-CDF sketch ([[quantileNormSketch]]) beyond it. The switch
    * reads [[graft.Tables.memoizedCount]]: one metadata-cheap count job
    * the FIRST time any facade sizes this (session, sfDir), a driver-local
    * memo read (zero jobs) on every call after — so repeat invocations
    * (bench steady state, a pipeline calling q209 per batch) add no
    * probe work at all. The default keeps every correctness/bench SF and
    * the ×10/×100 scaling decades exact (500 / 2 k / 20 k / 200 k
    * vectors) and engages the sketch in the measured-degrading ×1000
    * decade (2 M vectors). */
  private[graft] def rankNormalize(s: SparkSession, d: String,
      sketchAboveVectors: Long = 1000000L): DataFrame =
    if (graft.Tables.memoizedCount(s, d, "embeddings") <= sketchAboveVectors)
      quantileNormExact(s, d)
    else quantileNormSketch(s, d)

  /** Histogram-CDF sketch of the per-dimension percent rank — the
    * extreme-cardinality path behind [[rankNormalize]]. Per dimension:
    * min/max (one map-side-combined agg to 64 rows, broadcast), each
    * value mapped ROW-LOCALLY to one of `bins` equi-width buckets, bucket
    * counts aggregated to a grain BOUNDED at dims × bins rows forever
    * (never data-proportional — the whole point vs the exact support
    * grain), strict-prefix counts under a window whose partitions are
    * ≤ `bins` rows by construction (scale-safe without the range-block
    * machinery), and the rank estimated row-locally as
    * `(below_bucket + frac_within_bucket · c_bucket)/(n − 1)`, clamped to
    * [0, 1]. Shuffled volume is the bounded histogram grain only; the
    * fact-scale side sees two scans and zero fact-scale shuffles.
    *
    * Approximation contract (bound by the agreement test at small SF):
    * within-bucket linear interpolation errs by at most one bucket's
    * probability mass (~1/bins on smooth per-dim distributions); exact
    * TIE spreading (the (value, vec_id) total order) is not reproducible
    * from aggregates — tied values share their interpolated rank, and a
    * constant dimension collapses to rank 0 where the exact path spreads
    * 0..1 by vec_id. Same output shape and 6 dp pin as the exact path. */
  private[graft] def quantileNormSketch(s: SparkSession, d: String,
      bins: Int = 4096): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val long = embeddings(s, d)
      .select(col("vec_id"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("x"))
    val nVecs = graft.Tables.memoizedCount(s, d, "embeddings")
    val stats = long.groupBy("i")
      .agg(min("x").as("__lo"), max("x").as("__hi"))
      .withColumn("__w", (col("__hi") - col("__lo")) / lit(bins.toDouble))
    val bucketed = long.join(broadcast(stats), "i")
      .withColumn("__b", when(col("__w") === 0.0, lit(0L)).otherwise(
        least(lit(bins - 1).cast("long"),
          floor((col("x") - col("__lo")) / col("__w")).cast("long"))))
    val cdf = bucketed.groupBy("i", "__b").agg(count(lit(1)).as("__c"))
      .withColumn("__below", coalesce(
        sum("__c").over(w.partitionBy("i").orderBy("__b")
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
    bucketed.join(broadcast(cdf), Seq("i", "__b"))
      .withColumn("__frac", when(col("__w") === 0.0, lit(0.0)).otherwise(
        (col("x") - (col("__lo") + col("__b") * col("__w"))) / col("__w")))
      .withColumn("qn", rnd(least(lit(1.0), greatest(lit(0.0),
        (col("__below") + col("__frac") * col("__c")) /
          lit(nVecs - 1).cast("double"))), 6))
      .select("vec_id", "i", "qn")
      .orderBy("vec_id", "i")
  }

  /** The exact support-grain plan (see [[q209]]'s scaladoc). */
  private[graft] def quantileNormExact(s: SparkSession, d: String): DataFrame = {
    // r14: memo+cache the exploded matrix and its (dim, value) support —
    // the support is fact-sized (x is continuous, ~|cells| distinct) and
    // groupedPrefixSum references it three times; uncached each reference
    // re-ran the explode + agg (the q210/q243 support-rebuild class)
    val long = graft.Tables.memoized(s, d, "emblong") {
      embVecs(s, d)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("p", "x")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("x"))
    }
    // r15: the divisor is the corpus row count the rankNormalize facade
    // ALREADY memoized (Tables.memoizedCount) — entering it as a literal
    // drops the per-call count aggregation + its broadcast crossJoin
    // (same long value, bit-identical division)
    val nVecs = graft.Tables.memoizedCount(s, d, "embeddings")
    val sup = graft.Tables.memoized(s, d, "qnormSup") {
      long.groupBy("i", "x").agg(count(lit(1)).as("__c"))
    }
    val below = graft.api.Graft.groupedPrefixSum(sup, Seq("i"), "x", Seq("__c"))
      .select(col("i"), col("x"), (col("__c_cum") - col("__c")).as("__below"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy("i", "x").orderBy("vec_id")
    long.join(below, Seq("i", "x"))
      .withColumn("qn", rnd(
        (col("__below") + row_number().over(wTie) - 1).cast("double") /
          lit(nVecs - 1).cast("double"), 6))
      .select("vec_id", "i", "qn")
      .orderBy("vec_id", "i")
  }

  /** Dirichlet-smoothed query-likelihood ranking (μ=2000) for the same
    * fixed query {hash, join, dup} that q100 scores with BM25 — the
    * language-model retrieval baseline: score(d) = Σ_t ln((tf_t,d +
    * μ·cf_t/|C|) / (dl_d + μ)), INCLUDING absent terms (their smoothing
    * mass is what makes scores comparable across doc lengths — a
    * tf-only sum would favor short docs). Per-term scores sum in FIXED
    * term order via conditional aggregation, the q100 discipline (a bare
    * float sum is order-nondeterministic across engines).
    *
    * Scale: collection stats collapse to a 3-row × one-row broadcast; the
    * dense doc×term grid is |docs|·|query terms| rows — row-linear in the
    * corpus for a fixed query — then one doc-grain agg and a top-20. */
  def q218(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "dup")
    val words = TextPipeline.words1(s, d).select(col("doc_id"), col("w"))
    val dl = TextPipeline.docWords(s, d)
      .filter(size(col("words")) >= 1)
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"))
    val coll = words.agg(count(lit(1)).as("c_len"))
    val cf = words.filter(col("w").isin(terms: _*))
      .groupBy("w").agg(count(lit(1)).as("cf"))
    val dense = dl.crossJoin(broadcast(cf.crossJoin(coll)))
      .join(words.filter(col("w").isin(terms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")),
        Seq("doc_id", "w"), "left")
      .withColumn("hit",
        when(coalesce(col("tf"), lit(0L)) > 0, 1L).otherwise(0L))
      .withColumn("sc",
        log((coalesce(col("tf"), lit(0L)) +
            lit(2000.0) * (col("cf").cast("double") / col("c_len"))) /
          (col("dl") + lit(2000.0))))
    dense.groupBy("doc_id")
      .agg(sum("hit").as("n_hit"),
        (coalesce(sum(when(col("w") === "hash", col("sc"))), lit(0.0)) +
          coalesce(sum(when(col("w") === "join", col("sc"))), lit(0.0)) +
          coalesce(sum(when(col("w") === "dup", col("sc"))), lit(0.0)))
          .as("score"))
      .select(col("doc_id"), col("n_hit"), r4(col("score")).as("ql"))
      .orderBy(col("ql").desc, col("doc_id")).limit(20)
  }

  /** Per-dimension embedding distribution profile — the feature-store
    * health check run before any whitening/quantization decision (q102's
    * int8 grid and q209's rank-normalization both assume they know each
    * dimension's spread): n, mean, std, min, max per coordinate,
    * 1-indexed to match q209's dimension ids.
    *
    * Determinism: floats widen to double before any arithmetic;
    * mean/std pin at 5 dp where the corpus-sized summation-order drift
    * (~1e-12 on O(1) values) is far under the half-step; min/max are
    * exact. Scale: ONE explode + map-side-combined hash agg to a
    * 64-row output — the d×N token stream shape, row-linear, no joins,
    * no windows. */
  def q251(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .as(Seq("p", "x")))
      .groupBy((col("p") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), r5(avg("x")).as("mean"),
        r5(stddev_samp(col("x"))).as("std"),
        r5(min("x")).as("min_v"), r5(max("x")).as("max_v"))
      .orderBy("dim")

  /** Top principal component of the embedding corpus by distributed
    * covariance + driver-side power iteration — step one of PCA
    * whitening / dimensionality reduction over a vector column. The
    * covariance sufficient statistics are computed declaratively: center
    * per dimension, self-join the exploded (vec_id, dim, x) relation on
    * vec_id (co-partitioned — ONE exchange feeds both sides, the d²
    * products are join-local CPU), and map-side-combine to the
    * d(d+1)/2 = 2080 upper-triangle cells. The 2080-cell collect is
    * DIMENSION-bounded (~32 KB at d=64 at ANY corpus size) — the same
    * design as Spark MLlib's RowMatrix.computePrincipalComponents, which
    * collects the Gram matrix and eigendecomposes on the driver; 200
    * power-iteration rounds on a 64×64 matrix are then microseconds,
    * and would be 200 pointless tiny shuffle jobs done "distributed".
    *
    * Determinism: v₀ is the basis vector of the max-variance dimension
    * (lowest index on ties), the iteration count is fixed (no
    * tolerance-based early exit), and the sign is normalized so the
    * largest-|loading| component is positive — identical results
    * run-to-run under the 5 dp pin (cell sums drift ~1e-13 relative; a
    * 64-dim eigenvector is stable to perturbations at that scale).
    * No-oracle by design (an eigensolve is not SQL-reproducible);
    * RetrievalSpec binds it quantitatively: Cov·v = λ·v, λ ≥ every
    * diagonal variance, unit norm, explained share ∈ (0, 1]. */
  def q252(s: SparkSession, d: String): DataFrame = {
    val dims = embeddings(s, d)
      .select(col("vec_id"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("i", "xi")))
    val mu = dims.groupBy("i").agg(avg("xi").as("mu"), count(lit(1)).as("n"))
    val centered = dims.join(broadcast(mu.select("i", "mu")), "i")
      .select(col("vec_id"), col("i"), (col("xi") - col("mu")).as("x"))
    val cells = centered.as("a")
      .join(centered.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("sxx"))
    val head = mu.agg(max("n"), max("i")).head()
    // an EMPTY embeddings slice (zero-row corpus) has no observable
    // dimensionality — the max() aggregates come back null; emit the
    // empty frame instead of NPEing on getLong (r11 empty-corpus sweep)
    val noVectors = head.isNullAt(0)
    val nRows = if (noVectors) 0L else head.getLong(0)
    val d64 = if (noVectors) 0 else head.getInt(1) + 1
    val cov = Array.ofDim[Double](d64, d64)
    // nRows < 2 leaves no covariance denominator; dividing by
    // max(.., 1) keeps the collect finite, the trace guard below nulls
    // the output for that (and the all-constant zero-trace) corpus
    // instead of power-iterating on 0/0 into NaN
    cells.collect().foreach { r =>
      val (i, j, v) =
        (r.getInt(0), r.getInt(1), r.getDouble(2) / math.max(nRows - 1, 1L))
      cov(i)(j) = v; cov(j)(i) = v
    }
    val trace = (0 until d64).map(i => cov(i)(i)).sum
    val degenerate = nRows < 2 || trace <= 0.0
    val rows: Seq[(Long, Option[Double], Option[Double], Option[Double])] =
      if (degenerate) (0 until d64).map(i => (i.toLong + 1, None, None, None))
      else {
        def matVec(v: Array[Double]): Array[Double] =
          Array.tabulate(d64)(i => (0 until d64).map(j => cov(i)(j) * v(j)).sum)
        val seed = (0 until d64).maxBy(i => (cov(i)(i), -i))
        var v = Array.tabulate(d64)(i => if (i == seed) 1.0 else 0.0)
        for (_ <- 0 until 200) {
          val w = matVec(v)
          val nrm = math.sqrt(w.map(x => x * x).sum)
          v = w.map(_ / nrm)
        }
        val lambda = v.zip(matVec(v)).map { case (a, b) => a * b }.sum
        val kMax = (0 until d64).maxBy(i => (math.abs(v(i)), -i))
        if (v(kMax) < 0) v = v.map(-_)
        (0 until d64).map(i =>
          (i.toLong + 1, Some(v(i)), Some(lambda), Some(lambda / trace)))
      }
    import s.implicits._
    rows.toDF("dim", "loading", "lambda", "explained_share")
      .select(col("dim"), r5(col("loading")).as("loading"),
        r4(col("lambda")).as("lambda"),
        r5(col("explained_share")).as("explained_share"))
      .orderBy("dim")
  }

  /** One IRLS (Newton) step of logistic regression — training a quality/
    * language classifier head distributed, the supervised companion to
    * q252's PCA: features x = [1, words/100, avg word length] per doc,
    * label y = (lang = en). From β₀ = 0 the step is closed-form:
    * β₁ = 4·(XᵀX)⁻¹ Xᵀ(y − ½) (at β = 0 every weight is p(1−p) = ¼).
    * The sufficient statistics are computed declaratively — the exploded
    * (doc, i, xᵢ) relation self-joined on doc (co-partitioned, ONE
    * exchange) and map-side-combined to the d(d+1)/2 = 6 Gram cells
    * plus the d-vector score — and the d×d solve is a DIMENSION-bounded
    * driver step (the q252 / RowMatrix argument: ~100 bytes at any
    * corpus size; 3×3 Gaussian elimination done "distributed" would be
    * d tiny shuffle jobs for nothing).
    *
    * Determinism: fixed feature order, deterministic partial-pivot
    * elimination, 5 dp output pin (cell summation drift ~1e-13 relative
    * is far under it). No-oracle by design (a matrix solve is not
    * SQL-reproducible); RetrievalSpec binds it: the normal equations
    * XᵀX·β = 4·Xᵀ(y−½) hold against a brute-force recomputation, and
    * the step separates the classes (mean logit en > non-en). */
  def q264(s: SparkSession, d: String): DataFrame = {
    val feats = TextPipeline.docWords(s, d)
      .select(col("doc_id"), (col("lang") === "en").cast("double").as("y"),
        size(col("words")).cast("double").as("nw"),
        expr("aggregate(words, 0L, (a, w) -> a + length(w))")
          .cast("double").as("nc"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), col("y"),
        array(lit(1.0), col("nw") / lit(100.0), col("nc") / col("nw")).as("xs"))
    val dims = feats.select(col("doc_id"), col("y"),
      posexplode(col("xs")).as(Seq("i", "xi")))
    val gram = dims.as("a")
      .join(dims.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.xi") * col("b.xi")).as("sxx"))
    val score = dims.groupBy("i")
      .agg(sum(col("xi") * (col("y") - lit(0.5))).as("g"))
    val dd = 3
    val a = Array.ofDim[Double](dd, dd)
    gram.collect().foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(i)(j) = v; a(j)(i) = v
    }
    val g = new Array[Double](dd)
    score.collect().foreach(r => g(r.getInt(0)) = r.getDouble(1))
    // solve A beta = 4 g by Gaussian elimination with deterministic
    // partial pivoting (largest |pivot|, lowest row index on ties);
    // a collinear feature matrix (e.g. every doc the same length makes
    // words_per_100 proportional to the intercept) drives a pivot to 0 —
    // null the betas instead of emitting silent NaN
    val m = Array.tabulate(dd)(i => a(i) :+ (4.0 * g(i)))
    val pivotEps = 1e-9 * (0 until dd).map(i => math.abs(a(i)(i))).max
    var singular = false
    for (c <- 0 until dd) {
      val p = (c until dd).maxBy(r => (math.abs(m(r)(c)), -r))
      if (math.abs(m(p)(c)) <= pivotEps) singular = true
      else {
        val t = m(c); m(c) = m(p); m(p) = t
        for (r <- c + 1 until dd) {
          val f = m(r)(c) / m(c)(c)
          for (k <- c to dd) m(r)(k) -= f * m(c)(k)
        }
      }
    }
    val beta: Array[Option[Double]] =
      if (singular) Array.fill(dd)(None)
      else {
        val b = new Array[Double](dd)
        for (r <- dd - 1 to 0 by -1) {
          var acc = m(r)(dd)
          for (k <- r + 1 until dd) acc -= m(r)(k) * b(k)
          b(r) = acc / m(r)(r)
        }
        b.map(Some(_))
      }
    val names = Seq("intercept", "words_per_100", "avg_word_len")
    import s.implicits._
    names.zipWithIndex.map { case (n, i) => (n, beta(i), g(i)) }
      .toDF("feature", "beta", "score0")
      .select(col("feature"), r5(col("beta")).as("beta"),
        r5(col("score0")).as("score0"))
      .orderBy("feature")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q251_embed_dim_stats" -> q251,
    "q252_pca_power" -> q252,
    "q264_logreg_step" -> q264,
    "q218_query_likelihood" -> q218,
    "q209_quantile_norm" -> q209,
    "q204_kmeans_step" -> q204,
    "q170_mmr_rerank" -> q170,
    "q153_posting_lists" -> q153,
    "q100_bm25_rank" -> q100,
    "q159_rrf_fusion" -> q159,
    "q102_embed_quantize" -> q102,
    "q103_lsh_rp_buckets" -> q103)

  private val wordsCte = s"w AS (${TextPipeline.wordsSql})"

  val oracle: Map[String, String] = Map(
    // q252_pca_power: no oracle by design (driver-side eigensolve is not
    // SQL-reproducible) — bound by RetrievalSpec's Cov·v = λ·v checks.
    "q251_embed_dim_stats" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |x AS (SELECT CAST(t.i AS BIGINT) AS dim, v[t.i] AS x
         |  FROM e CROSS JOIN generate_series(1, 64) t(i))
         |SELECT dim, count(*) AS n, ${sr5("avg(x)")} AS mean,
         |  ${sr5("stddev_samp(x)")} AS std,
         |  ${sr5("min(x)")} AS min_v, ${sr5("max(x)")} AS max_v
         |FROM x GROUP BY 1 ORDER BY dim""".stripMargin,
    "q209_quantile_norm" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |x AS (SELECT vec_id, CAST(t.i AS BIGINT) AS i, v[t.i] AS x
         |  FROM e CROSS JOIN generate_series(1, 64) t(i))
         |SELECT vec_id, i,
         |  ${sqlRnd("percent_rank() OVER (PARTITION BY i ORDER BY x, vec_id)", 6)} AS qn
         |FROM x ORDER BY vec_id, i""".stripMargin,
    "q204_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seeds AS (SELECT vec_id AS c_id, v AS cv FROM e
         |  ORDER BY vec_id LIMIT 8),
         |d1 AS (SELECT e.vec_id, s.c_id,
         |    list_reduce(list_transform(generate_series(1, 64),
         |      i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i])),
         |      (a, x) -> a + x) AS dist
         |  FROM e CROSS JOIN seeds s),
         |m1 AS (SELECT vec_id, min(dist) AS md FROM d1 GROUP BY 1),
         |a1 AS (SELECT d1.vec_id, min(d1.c_id) AS c_id
         |  FROM d1 JOIN m1 ON d1.vec_id = m1.vec_id AND d1.dist = m1.md
         |  GROUP BY 1),
         |pd AS (SELECT a1.c_id, t.i, ${sqlRnd("avg(e.v[t.i])", 10)} AS m
         |  FROM a1 JOIN e USING (vec_id)
         |  CROSS JOIN generate_series(1, 64) t(i)
         |  GROUP BY 1, 2),
         |c2 AS (SELECT c_id, list(m ORDER BY i) AS cv FROM pd GROUP BY 1),
         |d2 AS (SELECT e.vec_id, c.c_id,
         |    list_reduce(list_transform(generate_series(1, 64),
         |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
         |      (a, x) -> a + x) AS dist
         |  FROM e CROSS JOIN c2 c),
         |m2 AS (SELECT vec_id, min(dist) AS md FROM d2 GROUP BY 1),
         |a2 AS (SELECT d2.vec_id, min(d2.c_id) AS c_id, min(m2.md) AS dist
         |  FROM d2 JOIN m2 ON d2.vec_id = m2.vec_id AND d2.dist = m2.md
         |  GROUP BY 1)
         |SELECT c_id, count(*) AS n_members, ${sr4("sum(dist)")} AS inertia
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q170_mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |probe AS (SELECT v AS p FROM e WHERE vec_id = 0),
         |pool AS (SELECT vec_id AS cand, v,
         |    ${sr5("coalesce(list_dot_product(p, v) / nullif(sqrt(list_dot_product(p, p)) * sqrt(list_dot_product(v, v)), 0e0), 0e0)")} AS rel
         |  FROM e, probe WHERE vec_id <> 0
         |  ORDER BY rel DESC, cand LIMIT 10),
         |sims AS (SELECT a.cand AS ca, b.cand AS cb,
         |    ${sr5("coalesce(list_dot_product(a.v, b.v) / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0e0), 0e0)")} AS sim
         |  FROM pool a, pool b WHERE a.cand <> b.cand),
         |s1 AS (SELECT cand, rel, 0.0e0 AS max_sim,
         |    ${sr5("0.7e0 * rel")} AS mmr, CAST(1 AS BIGINT) AS rank
         |  FROM pool ORDER BY rel DESC, cand LIMIT 1),
         |s2 AS (SELECT p.cand, p.rel, max(sim) AS max_sim,
         |    ${sr5("0.7e0 * p.rel - 0.3e0 * max(sim)")} AS mmr, CAST(2 AS BIGINT) AS rank
         |  FROM pool p JOIN sims ON p.cand = sims.ca
         |  WHERE sims.cb IN (SELECT cand FROM s1) AND p.cand NOT IN (SELECT cand FROM s1)
         |  GROUP BY 1, 2 ORDER BY mmr DESC, p.cand LIMIT 1),
         |sel2 AS (SELECT cand FROM s1 UNION ALL SELECT cand FROM s2),
         |s3 AS (SELECT p.cand, p.rel, max(sim) AS max_sim,
         |    ${sr5("0.7e0 * p.rel - 0.3e0 * max(sim)")} AS mmr, CAST(3 AS BIGINT) AS rank
         |  FROM pool p JOIN sims ON p.cand = sims.ca
         |  WHERE sims.cb IN (SELECT cand FROM sel2) AND p.cand NOT IN (SELECT cand FROM sel2)
         |  GROUP BY 1, 2 ORDER BY mmr DESC, p.cand LIMIT 1),
         |sel3 AS (SELECT cand FROM sel2 UNION ALL SELECT cand FROM s3),
         |s4 AS (SELECT p.cand, p.rel, max(sim) AS max_sim,
         |    ${sr5("0.7e0 * p.rel - 0.3e0 * max(sim)")} AS mmr, CAST(4 AS BIGINT) AS rank
         |  FROM pool p JOIN sims ON p.cand = sims.ca
         |  WHERE sims.cb IN (SELECT cand FROM sel3) AND p.cand NOT IN (SELECT cand FROM sel3)
         |  GROUP BY 1, 2 ORDER BY mmr DESC, p.cand LIMIT 1),
         |sel4 AS (SELECT cand FROM sel3 UNION ALL SELECT cand FROM s4),
         |s5 AS (SELECT p.cand, p.rel, max(sim) AS max_sim,
         |    ${sr5("0.7e0 * p.rel - 0.3e0 * max(sim)")} AS mmr, CAST(5 AS BIGINT) AS rank
         |  FROM pool p JOIN sims ON p.cand = sims.ca
         |  WHERE sims.cb IN (SELECT cand FROM sel4) AND p.cand NOT IN (SELECT cand FROM sel4)
         |  GROUP BY 1, 2 ORDER BY mmr DESC, p.cand LIMIT 1)
         |SELECT rank, cand AS cand_id, rel, max_sim, mmr FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
         |  UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
         |ORDER BY rank""".stripMargin,
    "q153_posting_lists" ->
      s"""WITH w AS (${TextPipeline.wordsSql}),
         |tok AS (SELECT doc_id, unnest(words) AS w FROM w),
         |tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
         |stats AS (SELECT w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
         |  FROM tf GROUP BY 1),
         |rk AS (SELECT w, doc_id, tf, row_number() OVER (
         |    PARTITION BY w ORDER BY tf DESC, doc_id) AS rn FROM tf),
         |hp AS (SELECT w, string_agg(
         |    CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
         |    ',' ORDER BY rn) AS head_postings
         |  FROM rk WHERE rn <= 5 GROUP BY 1)
         |SELECT s.w, s.df, s.total_tf, hp.head_postings
         |FROM stats s JOIN hp USING (w)
         |ORDER BY df DESC, w LIMIT 20""".stripMargin,
    "q159_rrf_fusion" ->
      s"""WITH $wordsCte,
         |d2 AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM w WHERE len(words) >= 1),
         |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d2),
         |tok AS (SELECT doc_id, unnest(words) AS wd FROM w),
         |tf AS (SELECT doc_id, wd, count(*) AS tf FROM tok
         |  WHERE wd IN ('hash', 'join', 'dup') GROUP BY 1, 2),
         |dfq AS (SELECT wd, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.wd,
         |    ln(1e0 + (st.n_docs - dfq.df + 0.5e0) / (dfq.df + 0.5e0)) *
         |      ((tf.tf * 2.2e0) /
         |        (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * (d2.dl / st.avgdl)))) AS sc
         |  FROM tf JOIN dfq USING (wd) JOIN d2 USING (doc_id), st),
         |ag AS (SELECT doc_id, count(*) AS n_terms,
         |    coalesce(sum(CASE WHEN wd = 'hash' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'join' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'dup' THEN sc END), 0e0) AS score
         |  FROM sc GROUP BY 1),
         |lex0 AS (SELECT doc_id, ${sr4("score")} AS bm25 FROM ag
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex FROM lex0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
         |cosr AS (SELECT e.vec_id AS doc_id,
         |    ${sr5("coalesce(list_dot_product(pv, v) / nullif(sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v)), 0e0), 0e0)")} AS cos
         |  FROM e, p WHERE e.vec_id <> 0),
         |sem0 AS (SELECT doc_id, cos FROM cosr ORDER BY cos DESC, doc_id LIMIT 20),
         |sem AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY cos DESC, doc_id) AS BIGINT) AS r_sem FROM sem0)
         |SELECT doc_id, r_lex, r_sem,
         |  ${sr5("coalesce(1e0 / (60 + r_lex), 0e0) + coalesce(1e0 / (60 + r_sem), 0e0)")} AS rrf
         |FROM lex FULL JOIN sem USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q218_query_likelihood" ->
      s"""WITH $wordsCte,
         |d2 AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM w
         |  WHERE len(words) >= 1),
         |tok AS (SELECT doc_id, unnest(words) AS wd FROM w),
         |coll AS (SELECT count(*) AS c_len FROM tok),
         |cf AS (SELECT wd, count(*) AS cf FROM tok
         |  WHERE wd IN ('hash', 'join', 'dup') GROUP BY 1),
         |tf AS (SELECT doc_id, wd, count(*) AS tf FROM tok
         |  WHERE wd IN ('hash', 'join', 'dup') GROUP BY 1, 2),
         |dense AS (SELECT d2.doc_id, cf.wd, d2.dl, cf.cf, coll.c_len, tf.tf
         |  FROM d2 CROSS JOIN cf CROSS JOIN coll
         |  LEFT JOIN tf ON tf.doc_id = d2.doc_id AND tf.wd = cf.wd),
         |sc AS (SELECT doc_id, wd,
         |    CASE WHEN coalesce(tf, 0) > 0 THEN 1 ELSE 0 END AS hit,
         |    ln((coalesce(tf, 0) + 2000.0e0 * (CAST(cf AS DOUBLE) / c_len))
         |      / (dl + 2000.0e0)) AS sc
         |  FROM dense),
         |ag AS (SELECT doc_id, CAST(sum(hit) AS BIGINT) AS n_hit,
         |    coalesce(sum(CASE WHEN wd = 'hash' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'join' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'dup' THEN sc END), 0e0) AS score
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, n_hit, ${sr4("score")} AS ql
         |FROM ag ORDER BY ql DESC, doc_id LIMIT 20""".stripMargin,
    "q100_bm25_rank" ->
      s"""WITH $wordsCte,
         |d2 AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM w WHERE len(words) >= 1),
         |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d2),
         |tok AS (SELECT doc_id, unnest(words) AS wd FROM w),
         |tf AS (SELECT doc_id, wd, count(*) AS tf FROM tok
         |  WHERE wd IN ('hash', 'join', 'dup') GROUP BY 1, 2),
         |dfq AS (SELECT wd, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.wd,
         |    ln(1e0 + (st.n_docs - dfq.df + 0.5e0) / (dfq.df + 0.5e0)) *
         |      ((tf.tf * 2.2e0) /
         |        (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * (d2.dl / st.avgdl)))) AS sc
         |  FROM tf JOIN dfq USING (wd) JOIN d2 USING (doc_id), st),
         |ag AS (SELECT doc_id, count(*) AS n_terms,
         |    coalesce(sum(CASE WHEN wd = 'hash' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'join' THEN sc END), 0e0)
         |      + coalesce(sum(CASE WHEN wd = 'dup' THEN sc END), 0e0) AS score
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, n_terms, ${sr4("score")} AS bm25
         |FROM ag ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q102_embed_quantize" ->
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |a AS (SELECT vec_id, v,
         |    list_max(list_transform(v, x -> abs(x))) AS amax FROM b),
         |s2 AS (SELECT vec_id, v, amax / 127e0 AS scale FROM a),
         |qq AS (SELECT vec_id, v, scale,
         |    list_transform(v, x -> CASE WHEN scale = 0e0 THEN CAST(0 AS BIGINT)
         |      ELSE greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
         |        CAST(floor(x / scale + 0.5e0) AS BIGINT))) END) AS q FROM s2)
         |SELECT vec_id, scale,
         |  array_to_string(list_transform(q, qi -> CAST(qi AS VARCHAR)), ',') AS qsig,
         |  ${sqlRnd("sqrt(list_reduce(list_transform(generate_series(1, 64), i -> " +
          "(v[i] - CAST(q[i] AS DOUBLE) * scale) * (v[i] - CAST(q[i] AS DOUBLE) * scale)), " +
          "(acc, x) -> acc + x) / 64e0)", 6)} AS rmse
         |FROM qq ORDER BY vec_id""".stripMargin,
    "q103_lsh_rp_buckets" ->
      s"""WITH s AS (SELECT p, i,
         |    CASE WHEN substr(sha256(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1) <= '7'
         |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
         |  FROM generate_series(0, 15) t1(p), generate_series(0, 63) t2(i)),
         |q2 AS (SELECT vec_id, j,
         |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000e0 + 0.5e0) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, 64) t(j)),
         |d2 AS (SELECT q2.vec_id, s.p, sum(s.sgn * q2.qv) AS dot
         |  FROM q2 JOIN s ON s.i = q2.j - 1 GROUP BY 1, 2),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0
         |    THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM d2 GROUP BY 1),
         |sz AS (SELECT bucket, count(*) AS bsize FROM bk GROUP BY 1)
         |SELECT b.vec_id, b.bucket, sz.bsize
         |FROM bk b JOIN sz USING (bucket) ORDER BY vec_id""".stripMargin)
}
