package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.recommendation.ALS

/** §2.8 recommender core: interaction matrix, popularity, bias baseline,
  * item/user collaborative filtering, ALS, ranking metrics, TF-IDF.
  *
  * Scale notes:
  * - Global scalars (μ, N) are computed as 1-row aggregates and broadcast via
  *   crossJoin(broadcast(...)) — never a global window, which would funnel
  *   the whole fact table through one partition.
  * - The CF self-joins (q63 item-item on user, q64 user-user on item) fan out
  *   quadratically in per-key degree. At 100 TB the mitigations are (a)
  *   threshold pruning / DIMSUM-style sampling of high-degree keys, (b)
  *   capping each user's rating list to their top-R items before the join —
  *   both preserve top-k similarity almost surely. The join itself stays a
  *   shuffle hash join on the shared key; partial aggregation collapses the
  *   pair fan-out map-side before the (i,j)-keyed shuffle.
  * - Similarities are ROUNDED to 5dp before ranking so both engines rank the
  *   same values; ties break on the neighbor key (§2.9.4).
  * - ALS scales via numUserBlocks/numItemBlocks; it is the only
  *   threshold-verified (not hash-verified) component, per SURVEY §2.8.
  */
object Recommender {

  def q60(s: SparkSession, d: String): DataFrame =
    ratings(s, d)
      .select(col("user_id"), col("item"), r4(col("rating")).as("rating"))
      .orderBy("user_id", "item")

  def q61(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"),
        itemFromProps.as("item"),
        col("value"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        r4(avg("value")).as("avg_value"))
      .orderBy(col("n_events").desc, col("item"))
      .limit(20)

  /** Mean-centered baseline predictor μ + bᵤ + bᵢ. */
  def q62(s: SparkSession, d: String): DataFrame =
    biasScored(s, d)
      .select("user_id", "item", "pred", "rating")
      .orderBy("user_id", "item")

  /** Item–item cosine over shared-user rating vectors; top-20 pairs.
    * The pair dot products come from the shared [[graft.Tables.itemDots]]
    * memo (q88 derives its neighbor lists from the same relation). */
  def q63(s: SparkSession, d: String): DataFrame = {
    val r = ratings(s, d)
    val nrm = r.groupBy("item").agg(sum(col("rating") * col("rating")).as("sq"))
    graft.Tables.itemDots(s, d)
      .join(broadcast(nrm.select(col("item").as("i1"), col("sq").as("sq1"))), "i1")
      .join(broadcast(nrm.select(col("item").as("i2"), col("sq").as("sq2"))), "i2")
      .select(col("i1").as("item1"), col("i2").as("item2"),
        // nullif: a zero-norm item (all-zero ratings) has no defined
        // cosine — null, not 0/0 (Spark nulls double /0, DuckDB NaN)
        r5(col("dot") / nullif(sqrt(col("sq1")) * sqrt(col("sq2")),
          lit(0.0))).as("cosine"))
      .orderBy(col("cosine").desc, col("item1"), col("item2"))
      .limit(20)
  }

  /** User-based CF: predict each observed (user, item) from the user's k=5
    * most cosine-similar users (positive similarity only). Similarities are
    * computed over each user's top-R=50 ratings (by rounded rating, item
    * tiebreak) restricted to each item's top-M=1024 contributors (the
    * user-direction bound; see the inline note), mirrored exactly in the
    * oracle SQL. */
  def q64(s: SparkSession, d: String): DataFrame = {
    val r = ratings(s, d)
    // Top-R cap per user BEFORE the pair join — the header's 100 TB
    // mitigation (b): bounds every user's vector to R entries so total pair
    // volume is O(ratings · R) instead of degree-quadratic. The cap orders
    // by the 4dp-rounded rating (cross-engine stable, §2.9.2) with item
    // tiebreak, so both engines cap identical sets; it feeds this plan
    // through `contribRatings` below.
    // Per-ITEM contributor cap M=1024 — the user-direction twin of the
    // per-user top-R cap above. The r10 scaling probe measured the raw
    // item-keyed user-pair join QUADRATIC in users for a fixed catalog
    // (U_item grows linearly with the corpus, pairs as U_item²); capping
    // each item's similarity contributors to its top-M raters bounds the
    // pair volume at catalog × M² forever. `Tables.contribRatings`
    // (= `perKeyTopContributors` over the top-50-capped ratings, cached
    // like every thrice-referenced recommender input) computes the
    // M-th-highest-4dp-rating threshold on the DOMAIN-bounded
    // (item × rating-grid) support with a partitioned window (many small
    // groups — `Window.partitionBy`'s regime, and no catalog-sized
    // broadcast: the q64 no-forced-broadcast lint's exact class),
    // admitting WHOLE tie groups at the boundary so both engines admit
    // identical sets. At the driver corpora the cap never binds (max 795
    // users/item at sf0.1), so results are bit-identical to the uncapped
    // form there; the binding path is pinned by GraftApiSpec's synthetic
    // hot-item cases.
    val contrib = contribRatings(s, d)
    val nrm = contrib.groupBy("user_id").agg(sum(col("rating") * col("rating")).as("sq"))
    val a = contrib.select(col("user_id").as("u"), col("item"), col("rating").as("ra"))
    val b = contrib.select(col("user_id").as("v"), col("item"), col("rating").as("rb"))
    // Pair fan-out is the quadratic hot spot: compute each unordered pair
    // once (u < v) and mirror afterwards — halves the join output and the
    // (u,v)-keyed aggregation. Every input here (ratings, norms) is
    // fact-proportional, so nothing is broadcast BY HINT — the planner and
    // AQE pick from statistics: a genuinely small side broadcasts, a 100 TB
    // side shuffles on item (hint-forcing either way loses: a forced
    // broadcast OOMs at scale, a forced shuffle over ~100 item keys skews
    // locally). Partial aggregation collapses the pair fan-out map-side
    // before the (u,v)-keyed shuffle.
    val half = a.join(b, Seq("item")).filter(col("u") < col("v"))
      .groupBy("u", "v").agg(sum(col("ra") * col("rb")).as("dot"))
      .join(nrm.select(col("user_id").as("u"), col("sq").as("squ")), "u")
      .join(nrm.select(col("user_id").as("v"), col("sq").as("sqv")), "v")
      .withColumn("sim", r5(col("dot") /
        nullif(sqrt(col("squ")) * sqrt(col("sqv")), lit(0.0))))
      .filter(col("sim") > 0)
      .select("u", "v", "sim")
    // r14: mirror by a row-local explode, NOT union(half, half.swapped) —
    // the union's two references each re-ran the whole pair subtree (the
    // 25M-row join + million-group dot agg executed TWICE, ~20 s summed
    // agg time at sf0.1); explode doubles rows in one pass, identical
    // multiset (guide §2.4: don't compute things twice)
    val sims = half.select(explode(array(
        struct(col("u"), col("v"), col("sim")),
        struct(col("v").as("u"), col("u").as("v"), col("sim")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.sim").as("sim"))
    val top5 = sims
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("sim").desc, col("v"))))
      .filter(col("rn") <= 5)
      .select("u", "v", "sim")
    r.select(col("user_id").as("u"), col("item"))
      .join(top5, "u")
      .join(r.select(col("user_id").as("v"), col("item"), col("rating").as("rv")),
        Seq("v", "item"))
      .groupBy("u", "item")
      .agg(count(lit(1)).as("n_nbrs"),
        r4(sum(col("sim") * col("rv")) / sum(col("sim"))).as("pred"))
      .select(col("u").as("user_id"), col("item"), col("n_nbrs"), col("pred"))
      .orderBy("user_id", "item")
  }

  /** MLlib ALS narrows user/item ids to Int (its checkedCast raises beyond
    * ±2³¹) — so a 100 TB event log's 64-bit ids crash the fit outright
    * (found by the r12 big-id corpus sweep: every other key runs clean on
    * id-offset corpora; q65/q66 threw CAST_OVERFLOW). The facade:
    * [[idsFitInt]] probes the ratings grain once (an agg on the cached
    * memo); small-id corpora — every correctness SF and every suite
    * fixture — pass ids through UNTOUCHED, preserving the r11 seed-42
    * output fingerprints, while corpora with any id beyond Int range fit
    * on a deterministic dense index ([[denseIndex]]: distinct → sort →
    * zipWithIndex, fully distributed — no single-task window) and map
    * results back to the original Long ids. The ceiling that remains is
    * MLlib's own: more than 2³¹ DISTINCT users or items cannot be block-
    * partitioned by this ALS at all — the indexer raises explicitly
    * instead of overflowing silently. MlSpec pins the facade law (big-id
    * corpus ≡ crash-free, ids mapped back into the original universe).
    *
    * The id range is a CORPUS property, so the probe is memoized per
    * (session, sfDir) via [[graft.Tables.value]] — r12's verdict
    * measured the per-invocation min/max agg at ~0.6–0.8 s each on
    * q65/q66 per bench pass; now it is one job per session per corpus
    * and a memo read thereafter. */
  private def idsFitInt(s: SparkSession, d: String, r: DataFrame): Boolean =
    graft.Tables.value(s, graft.Tables.memoName(d, "alsIdsFitInt")) {
      val row = r.agg(min("user_id"), max("user_id"), min("item"), max("item")).head()
      (0 until 4).forall { i =>
        row.isNullAt(i) || {
          val v = row.getLong(i)
          v >= Int.MinValue.toLong && v <= Int.MaxValue.toLong
        }
      }
    }

  /** The big-id facade's dense indexes, session-memoized (and cached) per
    * corpus: q65 references each index twice (fit-side join + output
    * back-map) and q66 shares the identical mapping — without the memo
    * every reference re-ran the distinct+sort+zipWithIndex build (~4
    * redundant sort jobs per q65 call, r12 ADVICE). Keyed on the ratings
    * grain's id column, released with the rest via Tables.release. */
  private def alsIndex(s: SparkSession, d: String, r: DataFrame,
      c: String): DataFrame =
    graft.Tables.memoized(s, d, s"alsidx_$c")(denseIndex(r, c))

  /** Deterministic Long→Int dense index of one id column: the distinct
    * grain sorted by value, indexed by position (sort-then-zipWithIndex is
    * content-determined — same ids, same index, any layout). Distributed:
    * a range-partitioned sort plus one count job, never a global window. */
  private def denseIndex(df: DataFrame, c: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val distinct = df.select(col(c).cast("long")).na.drop.distinct.orderBy(c)
    val rdd = distinct.rdd.map(_.getLong(0)).zipWithIndex()
    rdd.map { case (id, i) =>
      if (i > Int.MaxValue.toLong)
        throw new IllegalArgumentException(
          s"ALS cannot block-partition > 2^31 distinct $c values (MLlib Int ids)")
      (id, i.toInt)
    }.toDF(c, s"${c}_idx")
  }

  /** Canonicalize an ALS input's physical layout (r15, r14 verdict #1):
    * hash-repartition by (user_id, item) to a FIXED count, independent of
    * the session's parallelism and of whatever layout the upstream memo
    * cache happens to carry. Two declared outputs depend on layout —
    * `randomSplit` samples per partition (content-determined only for a
    * content-determined partitioning, which this provides: fixed count,
    * hash of the row's own keys, plus randomSplit's own per-partition
    * sort), and MLlib ALS's factor initialization reads the training
    * frame's partitioning. r14's events-cache spread silently moved
    * q66's holdout metrics through exactly that path; with this pin a
    * cache-layout change upstream can never move a declared ALS output
    * again (MlSpec pins the law). The fixed count (16) bounds only the
    * split/blockify pass; ALS itself re-partitions into its own
    * user/item block grid immediately after. */
  private def alsCanonical(r: DataFrame): DataFrame = {
    r.repartition(16, col("user_id"), col("item"))
  }

  private def alsOn(train: DataFrame,
      canonical: Boolean = true): org.apache.spark.ml.recommendation.ALSModel = {
    // Block counts sized to the data: ALS shuffles user-block × item-block
    // pairs every iteration, so MLlib's default 10×10 grid is pure overhead
    // when a side has only ~100 distinct keys (this corpus's item side) —
    // while huge sides still get the full grid. ~500 keys per block, capped
    // to [2, 10]; derived deterministically from the cached ratings, so
    // fixed-seed reproducibility is unaffected.
    // layout pin — see alsCanonical. Callers whose input ALREADY carries
    // the canonical layout (alsHoldout: randomSplit is a narrow sample of
    // the canonicalized frame, partitioning preserved exactly) pass
    // canonical=false to skip the redundant second shuffle.
    val fitOn = if (canonical) alsCanonical(train) else train
    val Array(nUsers, nItems) = fitOn
      .agg(countDistinct("user_id"), countDistinct("item"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    def blocks(n: Long): Int = math.max(2, math.min(10, (n / 500).toInt)).toInt
    new ALS()
      .setUserCol("user_id").setItemCol("item").setRatingCol("rating")
      .setRank(8).setMaxIter(10).setRegParam(0.1).setSeed(42)
      .setNumUserBlocks(blocks(nUsers)).setNumItemBlocks(blocks(nItems))
      .setColdStartStrategy("drop")
      .fit(fitOn)
  }

  /** MLlib ALS recommendations (no SQL oracle — fixed-seed + RMSE checks in
    * MlSpec; driver records a rows-only check). MLlib's ALS throws
    * ("No ratings available") rather than fitting an empty matrix, so both
    * ALS keys short-circuit a zero-row ratings slice to their natural
    * empty result instead of crashing the run (r11 empty-corpus sweep);
    * the isEmpty probe is a limit-1 job on the cached ratings memo. */
  def q65(s: SparkSession, d: String): DataFrame = {
    // MLlib's checkedCast raises on any null user/item/rating; a triple
    // with a missing member carries no preference signal — drop it at the
    // fit edge (no-op on the null-free corpus; r11 null-corpus sweep)
    val r = ratings(s, d).na.drop(Seq("user_id", "item", "rating"))
    if (r.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("user_id", "rnk", "item", "score")
    }
    // big-id facade (see idsFitInt): Int-range corpora fit on raw ids
    // (fingerprint-stable); 64-bit-id corpora fit on the dense index and
    // map both output id columns back to the original Long ids
    val recs =
      if (idsFitInt(s, d, r)) {
        alsOn(r).recommendForAllUsers(5)
          .select(col("user_id"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
          // cast back to the corpus's LONG ids: MLlib's ALS narrows
          // user/item to Int internally and would otherwise leak that int
          // through the API (r11 empty-corpus schema-stability sweep)
          .select(col("user_id").cast("long").as("user_id"),
            (col("pos") + 1).cast("long").as("rnk"),
            col("rec.item").cast("long").as("item"),
            col("rec.rating").cast("double").as("score"))
      } else {
        val ui = alsIndex(s, d, r, "user_id")
        val ii = alsIndex(s, d, r, "item")
        val rIdx = r.join(ui, "user_id").join(ii, "item")
          .select(col("user_id_idx").as("user_id"),
            col("item_idx").as("item"), col("rating"))
        alsOn(rIdx).recommendForAllUsers(5)
          .select(col("user_id").as("user_id_idx"),
            posexplode(col("recommendations")).as(Seq("pos", "rec")))
          .join(ui, "user_id_idx")
          .join(ii.withColumnRenamed("item_idx", "rec_item_idx")
            .withColumnRenamed("item", "item_orig"),
            col("rec.item") === col("rec_item_idx"))
          .select(col("user_id"),
            (col("pos") + 1).cast("long").as("rnk"),
            col("item_orig").as("item"),
            col("rec.rating").cast("double").as("score"))
      }
    recs
      .select(col("user_id"), col("rnk"), col("item"), r4(col("score")).as("score"))
      .orderBy("user_id", "rnk")
  }

  /** ALS holdout quality: RMSE + MAE on a seeded 80/20 split (no oracle).
    * Empty TRAIN split (zero-row corpus, or a split that drops every row
    * at tiny slices) → the SAME one-row (n_test=0, rmse=null, mae=null)
    * frame a fitted model with an empty TEST split produces (count=0,
    * avg=null on an empty agg), so adjacent degenerate inputs agree on
    * shape instead of flipping between zero and one rows. */
  def q66(s: SparkSession, d: String): DataFrame = {
    // null-triple drop before the split, same rationale as q65 (transform's
    // checkedCast raises on null test rows just like fit does). Big-id
    // facade (idsFitInt): 64-bit-id corpora are dense-indexed BEFORE the
    // split so train and test share one mapping; the output carries only
    // aggregate metrics, so no back-map is needed. Int-range corpora pass
    // through untouched (fingerprint-stable).
    val r0 = ratings(s, d).na.drop(Seq("user_id", "item", "rating"))
    val r =
      if (idsFitInt(s, d, r0)) r0
      else {
        val ui = alsIndex(s, d, r0, "user_id")
        val ii = alsIndex(s, d, r0, "item")
        r0.join(ui, "user_id").join(ii, "item")
          .select(col("user_id_idx").as("user_id"),
            col("item_idx").as("item"), col("rating"))
      }
    alsHoldout(s, r)
  }

  /** q66's core on an id-normalized ratings frame — factored out so
    * MlSpec can pin the LAYOUT-INDEPENDENCE law directly: two arbitrary
    * repartitionings of the same content must produce bit-identical
    * holdout metrics, because [[alsCanonical]] pins the split's and the
    * fit's physical layout from the rows' own keys (r14 verdict #1: the
    * events-cache spread moved q66's declared output through
    * randomSplit's per-partition sampling; that path is now closed). */
  private[graft] def alsHoldout(s: SparkSession, r: DataFrame): DataFrame = {
    val Array(train, test) = alsCanonical(r).randomSplit(Array(0.8, 0.2), 42)
    if (train.isEmpty) {
      import s.implicits._
      return Seq((0L, Option.empty[Double], Option.empty[Double]))
        .toDF("n_test", "rmse", "mae")
    }
    val model = alsOn(train, canonical = false)
    model.transform(test)
      .withColumn("err", col("prediction").cast("double") - col("rating"))
      .agg(count(lit(1)).as("n_test"),
        r4(sqrt(avg(col("err") * col("err")))).as("rmse"),
        r4(avg(abs(col("err")))).as("mae"))
  }

  /** precision@5 / recall@5 / NDCG@5 of the popularity recommender (top-5
    * click/view items) against each user's purchased-item set. */
  def q67(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("item", itemFromProps)
    val recs = ev.filter(col("event_type").isin("click", "view"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(5)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("cnt").desc, col("item"))).cast("long"))
    val rel = ev.filter(col("event_type") === "purchase")
      .select("user_id", "item").distinct()
    val nrel = rel.groupBy("user_id").agg(count(lit(1)).as("n_rel"))
    val hits = rel.join(broadcast(recs), "item")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_hits"),
        sum(lit(1.0) / log2(col("pos") + 1)).as("dcg"))
    val ks = s.range(1, 6)
      .select(col("id").as("k"), (lit(1.0) / log2(col("id") + 1)).as("g"))
    val idcg = nrel.join(broadcast(ks), col("k") <= least(lit(5L), col("n_rel")))
      .groupBy("user_id", "n_rel").agg(sum("g").as("idcg"))
    idcg.join(hits, Seq("user_id"), "left")
      .select(col("user_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
      .agg(count(lit(1)).as("n_users"),
        r4(avg(col("n_hits") / lit(5.0))).as("p_at_5"),
        r4(avg(col("n_hits").cast("double") / col("n_rel"))).as("r_at_5"),
        r4(avg(col("ndcg"))).as("ndcg_at_5"))
  }

  /** The END-TO-END recommender evaluation pipeline in one query — the
    * q105 composition proof for THIS family: leakage-free per-user
    * temporal split (q135's integer-boundary protocol, 70% train / 30%
    * test) → fit the popularity recommender on TRAIN ONLY → top-5 recs →
    * precision@5 / recall@5 against TEST purchases (q67's machinery, but
    * with the train/test separation q67 itself doesn't model). This is
    * the evaluation loop every recommender ships behind: q67 measures
    * in-sample, this measures the honest out-of-time readout.
    *
    * Determinism: split assignment is exact integer boundary arithmetic;
    * hit counts are integers; the two averaged ratios divide integers by
    * constants/integers under the 4 dp pin. Scale: one (user|ts) window
    * shuffle for the split, a train-side item count, a 5-row broadcast of
    * the recs, per-user test-side integer aggs. */
  def q160(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000").as("us"),
      itemFromProps.as("item"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    // r15 session 2: the split-tagged relation is referenced THREE times
    // (train-popularity, test-relevance, split sizes) above the events
    // CACHE, where AQE never reuses exchanges — uncached, the per-user
    // rank/count window shuffle+sort executed once per reference.
    // Memo+cached once per session (the q145/q149 pattern).
    val tagged = graft.Tables.memoized(s, d, "recSplitTags") {
      e.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("split",
          when(col("rn") * 100 <= col("cnt") * 70, "train").otherwise("test"))
    }
    val recs = tagged
      .filter(col("split") === "train" &&
        col("event_type").isin("click", "view"))
      .groupBy("item").agg(count(lit(1)).as("pop"))
      .orderBy(col("pop").desc, col("item")).limit(5)
      .select("item")
    val rel = tagged
      .filter(col("split") === "test" && col("event_type") === "purchase")
      .select("user_id", "item").distinct()
    val nrel = rel.groupBy("user_id").agg(count(lit(1)).as("n_rel"))
    val hits = rel.join(broadcast(recs), "item")
      .groupBy("user_id").agg(count(lit(1)).as("n_hits"))
    val per = nrel.join(hits, Seq("user_id"), "left")
      .select(col("n_rel"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    val sizes = tagged.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    per.agg(count(lit(1)).as("n_test_users"),
        r4(avg(col("n_hits") / lit(5.0))).as("p_at_5"),
        r4(avg(col("n_hits").cast("double") / col("n_rel"))).as("r_at_5"))
      .crossJoin(broadcast(sizes))
      .select("n_train", "n_test", "n_test_users", "p_at_5", "r_at_5")
  }

  /** Pure-DataFrame TF-IDF (tf · ln(N/df)), top term per document — not
    * HashingTF, so the oracle can reproduce it exactly. */
  def q68(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val words = TextPipeline.words1(s, d).select(col("doc_id"), col("w"))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    tf.join(dfq, "w").crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n").cast("double") / col("df")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("w").as("top_term"), r4(col("score")).as("score"))
      .orderBy("doc_id")
  }

  /** MRR and MAP@5 of the popularity recommender (complements q67's
    * precision/recall/NDCG). */
  def q87(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("item", itemFromProps)
    val recs = ev.filter(col("event_type").isin("click", "view"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(5)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("cnt").desc, col("item"))).cast("long"))
    val rel = ev.filter(col("event_type") === "purchase")
      .select("user_id", "item").distinct()
    val nrel = rel.groupBy("user_id").agg(count(lit(1)).as("n_rel"))
    val w = Window.partitionBy("user_id").orderBy("pos")
    val ap = rel.join(broadcast(recs), "item")
      .withColumn("hit_rank", row_number().over(w))
      .withColumn("prec", col("hit_rank").cast("double") / col("pos"))
      .groupBy("user_id")
      .agg(min("pos").as("first_pos"), sum("prec").as("sum_prec"))
    nrel.join(ap, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(lit(1.0) / col("first_pos"), lit(0.0)).as("rr"),
        (coalesce(col("sum_prec"), lit(0.0))
          / least(lit(5.0), col("n_rel").cast("double"))).as("ap"))
      .agg(count(lit(1)).as("n_users"),
        r4(avg("rr")).as("mrr"),
        r4(avg("ap")).as("map_at_5"))
  }

  /** Item-based CF prediction: for each observed (user, item), weighted
    * average of the user's OTHER ratings, weighted by item-item cosine
    * (top-10 positive neighbors per item — the q63 similarity, mirrored). */
  def q88(s: SparkSession, d: String): DataFrame = {
    val r = ratings(s, d)
    val nrm = r.groupBy("item").agg(sum(col("rating") * col("rating")).as("sq"))
    val half = graft.Tables.itemDots(s, d)
      .join(broadcast(nrm.select(col("item").as("i1"), col("sq").as("sq1"))), "i1")
      .join(broadcast(nrm.select(col("item").as("i2"), col("sq").as("sq2"))), "i2")
      .withColumn("sim", r5(col("dot") /
        nullif(sqrt(col("sq1")) * sqrt(col("sq2")), lit(0.0))))
      .filter(col("sim") > 0)
      .select("i1", "i2", "sim")
    val sims = half.union(half.select(col("i2").as("i1"), col("i1").as("i2"), col("sim")))
    val top10 = sims.withColumn("rn", row_number().over(
        Window.partitionBy("i1").orderBy(col("sim").desc, col("i2"))))
      .filter(col("rn") <= 10)
      .select(col("i1").as("item"), col("i2").as("nbr"), col("sim"))
    r.select(col("user_id"), col("item"))
      .join(broadcast(top10), "item")
      .join(r.select(col("user_id"), col("item").as("nbr"), col("rating").as("rn_val")),
        Seq("user_id", "nbr"))
      .groupBy("user_id", "item")
      .agg(count(lit(1)).as("n_nbrs"),
        r4(sum(col("sim") * col("rn_val")) / sum(col("sim"))).as("pred"))
      .orderBy("user_id", "item")
  }

  /** Segmented popularity recommender: top-3 items per customer market
    * segment (events.user_id shares the c_custkey domain — verified). */
  def q89(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("item", itemFromProps)
    val seg = customer(s, d).select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    ev.join(seg, "user_id")
      .groupBy("c_mktsegment", "item")
      .agg(count(lit(1)).as("n_events"), r4(avg("value")).as("avg_value"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("c_mktsegment")
          .orderBy(col("n_events").desc, col("item"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select("c_mktsegment", "rnk", "item", "n_events", "avg_value")
      .orderBy("c_mktsegment", "rnk")
  }

  /** Item co-occurrence PMI: for item pairs interacted-with by the same
    * user, pointwise mutual information ln(c_ab·N / (c_a·c_b)) — the
    * association-rule / "users who liked X also liked Y" statistic, and the
    * matrix behind item2vec-style embeddings. The pair fan-out is the q63
    * shape (self-join on user), bounded by the capped top-50 rating lists;
    * partial aggregation collapses pairs map-side before the (a,b)-keyed
    * shuffle. The per-item marginals are vocabulary-sized — NO forced
    * broadcast (q64 discipline), statistics/AQE decide; only the one-row
    * user count is broadcast. */
  def q107(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.cooccurrencePmiOnSupport(pairSupport(s, d),
        cappedRatings(s, d), "user_id", "item")
      .select(col("item_a"), col("item_b"), col("c_ab"), r4(col("pmi")).as("pmi"))
      .orderBy(col("c_ab").desc, col("item_a"), col("item_b"))
      .limit(20)

  /** Next-item transition matrix (session-based / Markov recommender):
    * consecutive items per user's event-time sequence → transition counts
    * and per-source-item probabilities, top-20 transitions. One window per
    * user partition (bounded history) + two aggregations — linear, and the
    * lag never leaves the user partition. */
  def q108(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.nextTransitions(
        events(s, d).select(col("user_id"), col("event_id"), col("tsc"),
          itemFromProps.as("item")),
        "user_id", Seq(col("tsc"), col("event_id")), "item")
      .select(col("prev_item"), col("next_item"), col("c"), r4(col("prob")).as("prob"))
      .orderBy(col("c").desc, col("prev_item"), col("next_item"))
      .limit(20)

  /** Coverage + exposure-concentration evaluation of the personalized
    * popularity recommender (top-5 most popular items each user has NOT
    * rated): catalog coverage (share of items ever recommended) and the
    * Gini coefficient of item exposure — the diversity metrics that q67's
    * accuracy numbers miss (a recommender can be accurate while showing
    * everyone the same 5 items; this query measures exactly that).
    *
    * Scale: the candidate list is the top-50 popularity slice (bounded →
    * broadcast); per-user filtering is a left-anti join on the user's own
    * history (shuffle on (user, item)); the Gini rank-sum runs over the
    * ≤50-row exposure relation — the global window is bounded by the
    * candidate list, never catalog- or user-sized. All sums are integer
    * until the two final divisions, so both engines compute identical
    * doubles. */
  def q126(s: SparkSession, d: String): DataFrame = {
    val r = ratings(s, d).select(col("user_id"), col("item"))
    val pop = r.groupBy("item").agg(count(lit(1)).as("cnt"))
    val top50 = pop.orderBy(col("cnt").desc, col("item")).limit(50)
    val recs = r.select("user_id").distinct()
      .crossJoin(broadcast(top50))
      .join(r, Seq("user_id", "item"), "left_anti")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("user_id").orderBy(col("cnt").desc, col("item"))))
      .filter(col("rnk") <= 5)
    val expo = recs.groupBy("item").agg(count(lit(1)).as("e"))
    val gin = expo
      .withColumn("i", row_number().over(
        Window.orderBy(col("e").asc, col("item"))).cast("long"))
      .agg(count(lit(1)).as("n_recommended"), sum("e").as("tot_e"),
        sum(col("i") * col("e")).as("ie"))
    gin
      .crossJoin(broadcast(pop.agg(count(lit(1)).as("n_catalog"))))
      .crossJoin(broadcast(r.select("user_id").distinct()
        .agg(count(lit(1)).as("n_users"))))
      .select(col("n_users"), col("n_catalog"), col("n_recommended"),
        // nullif guards: on a ZERO-ROW corpus slice the global counts are
        // legitimately 0 and ANSI division must yield null, not kill the
        // pipeline run (r11 empty-corpus sweep); on any non-empty corpus
        // every denominator is >= 1 and the guards are identities
        r4(col("n_recommended").cast("double") /
            nullif(col("n_catalog").cast("double"), lit(0.0)))
          .as("coverage"),
        r4(lit(2.0) * col("ie").cast("double") /
            nullif(col("n_recommended").cast("double") * col("tot_e").cast("double"),
              lit(0.0)) -
          (col("n_recommended") + 1).cast("double") /
            nullif(col("n_recommended").cast("double"), lit(0.0)))
          .as("gini"))
  }

  /** Calibration (reliability) bins of the q62 bias predictor: predictions
    * deciled by RANK (near-equal-count bins, whole tie groups kept
    * together), per-bin count, mean predicted vs mean actual rating, and
    * the calibration gap — the "is the model systematically over/under-
    * predicting in any score range" check run before shipping any scorer.
    *
    * Plan: predictions shrink to their distinct-pred grain (count + rating
    * sum per pinned pred), [[graft.api.Graft.prefixSum]] gives each pred
    * its cumulative rank WITHOUT a global single-partition window (the
    * defect the earlier global-ntile form had), and bin =
    * ⌈rank·10/N⌉ is exact integer arithmetic — bit-identical cross-engine,
    * no percentile interpolation to drift. Per-bin means divide sums of
    * identical pinned doubles under the 4 dp output pin. Unlike ntile,
    * equal predictions always land in the same bin (counts are near-equal
    * rather than exactly equal — the right semantics for calibration,
    * where splitting a tie group across bins would be arbitrary). */
  def q136(s: SparkSession, d: String): DataFrame = {
    // r14: shared fact-sized score support via the predSupport memo (q265)
    val pv = graft.Tables.predSupport(s, d)
      .select(col("pred"), col("t").as("npv"), col("sr"))
    val tot = pv.agg(sum("npv").as("ntot"))
    graft.api.Graft.prefixSum(pv, "pred", Seq("npv"))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("(npv_cum * 10 + ntot - 1) div ntot"))
      .groupBy("bin")
      .agg(sum("npv").as("n"),
        r4(sum(col("pred") * col("npv")) / sum("npv").cast("double"))
          .as("avg_pred"),
        r4(sum("sr") / sum("npv").cast("double")).as("avg_actual"),
        r4(abs(sum(col("pred") * col("npv")) / sum("npv").cast("double") -
          sum("sr") / sum("npv").cast("double"))).as("gap"))
      .orderBy("bin")
  }

  /** Time-decayed co-visitation: item pairs the same user touched within
    * one hour, each co-occurrence weighted exp(−Δt/30 min) — the
    * "frequently viewed together" recommender with recency-of-association
    * built in (a pair seen seconds apart counts ~1, an hour apart ~0.14).
    * Beside q107 (PMI weights by item marginals) and q133 (Adamic–Adar
    * weights by user degree), this weights by TIME PROXIMITY.
    *
    * Scale: candidate pairs come from [[graft.api.Graft.intervalJoin]] —
    * the q39 bucketed-cell plan (equi join on (user, 1h-cell) + residual),
    * never a per-user quadratic theta join. Δt is exact integer µs
    * (truncate-then-subtract, the §1.3 rule); only the final per-pair sum
    * of exp terms is floating, pinned at 4 dp.
    *
    * Measured: the qualifying pair volume is SUB-linear on this corpus —
    * 9.2k pairs from 100k events at sf0.1 (0.09× fan-out). The 10.4–10.8 s
    * this key recorded in the r5/r6 driver benches was NOT the plan (and
    * not "machine variance" as earlier claimed): q137 executes right after
    * the iterative-checkpoint families (q93 components, q113 pagerank,
    * alphabetically earlier), whose per-round localCheckpoint blocks were
    * never released — by q137 the block manager held every round of every
    * prior fixpoint and the executor was under GC pressure. After the r7
    * fix (Graft.dropCheckpoint per round) q137 times 1.44 s in BOTH passes
    * of the double-run sf0.1 bench, with zero slowdown window anywhere in
    * the suite (steady total 90.3 s / 182 keys). */
  def q137(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"),
      itemFromProps.as("item"))
    val l = e.select(col("user_id"), col("event_id").as("eid_a"),
      col("us").as("us_a"), col("item").as("item_a"))
    val r = e.select(col("user_id"), col("event_id").as("eid_b"),
      col("us").as("us_b"), col("item").as("item_b"))
    graft.api.Graft.intervalJoin(l, r, Seq("user_id"), "us_a", "us_b",
        width = 3600000000L,
        cond = col("eid_a") < col("eid_b") && col("item_a") =!= col("item_b"))
      .select(least(col("item_a"), col("item_b")).as("ia"),
        greatest(col("item_a"), col("item_b")).as("ib"),
        exp(-abs(col("us_a") - col("us_b")).cast("double") / lit(1800e6))
          .as("wt"))
      .groupBy("ia", "ib")
      .agg(count(lit(1)).as("n_copairs"), r4(sum("wt")).as("score"))
      .orderBy(col("score").desc, col("ia"), col("ib"))
      .limit(20)
  }

  /** Deterministic negative sampling for implicit-feedback training: for
    * every user, the 3 catalog items they never interacted with, picked by
    * content-stable hash order (sha256 of "user:item" — zero RNG state, so
    * the SAME negatives on every engine, rerun and partitioning; fresh
    * negatives = change the salt). The (user, item, label=0) companion to
    * the q60 positives that BPR/ALS-implicit training consumes.
    *
    * Scale: candidates are user × catalog with the catalog broadcast —
    * sound while the catalog is dimension-sized (it is here: 100 items).
    * For open catalogs, pre-sample the candidate item set by hash bucket
    * first (Graft.hashSample) and anti-join only the sampled slice. */
  def q147(s: SparkSession, d: String): DataFrame = {
    val r = ratings(s, d).select(col("user_id"), col("item"))
    val users = r.select("user_id").distinct()
    val items = r.select("item").distinct()
    users.crossJoin(broadcast(items))
      .join(r, Seq("user_id", "item"), "left_anti")
      .withColumn("h",
        sha2(concat_ws(":", col("user_id"), col("item")), 256))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("user_id").orderBy("h", "item")).cast("long"))
      .filter(col("rnk") <= 3)
      .select("user_id", "rnk", "item")
      .orderBy("user_id", "rnk")
  }

  /** Bayesian-shrunk item score — the "top rated" list done right: raw
    * per-item mean purchase value is noise for thin items, so each item's
    * mean is shrunk toward the GLOBAL mean with prior weight m=25
    * ((m·μ + Σv)/(m + n), the Dirichlet/IMDb-top-250 estimator). Items
    * with few observations collapse to μ; well-observed items keep their
    * own mean — the ranking a raw avg (q61) gets wrong on sparse tails.
    *
    * Determinism: both sums are double adds whose cross-engine drift is
    * ≪ the 4 dp pin (≤1e4 addends of magnitude ≤1e3 → ≤1e-8 abs); the
    * bayes ordering could only flip for items within drift of each other,
    * a ~1e-12 event on continuous values. Scale: one item-grain agg plus
    * a one-row global broadcast — nothing beyond q61's plan. */
  def q165(s: SparkSession, d: String): DataFrame = {
    val buys = events(s, d).filter(col("event_type") === "purchase")
      .select(itemFromProps.as("item"),
        col("value"))
    val g = buys.agg((sum("value") / count(lit(1))).as("mu"))
    buys.groupBy("item")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .crossJoin(broadcast(g))
      .select(col("item"), col("n"), r4(col("sv") / col("n")).as("raw_mean"),
        r4((lit(25.0) * col("mu") + col("sv")) / (lit(25.0) + col("n")))
          .as("bayes_score"))
      .orderBy(col("bayes_score").desc, col("item"))
      .limit(20)
  }

  /** Time-decayed trending score: per item, Σ 0.5^((K − k)/7) over click
    * events at day index k with K the corpus horizon (2024-01-31) — a
    * 7-day half-life popularity that surfaces items hot NOW over items
    * merely big historically (the recency companion to q61's all-time
    * counts; streaming rollups maintain it as one mergeable sum).
    *
    * Determinism: day indexes are exact integer floor-division; both
    * engines evaluate the SAME pow(0.5, k/7) terms (libm-level agreement,
    * any drift ≤ ulp) and the ≤1e4-addend sum stays ≪ the 4 dp pin.
    * Scale: map-side-combinable single agg on the item grain. */
  def q166(s: SparkSession, d: String): DataFrame = {
    val day0 = 1704067200000000L // 2024-01-01T00:00:00Z epoch µs
    graft.streaming.Streaming.trendingRollup(
      events(s, d).filter(col("event_type") === "click")
        .select(itemFromProps.as("item"),
          expr(graft.Tables.sqlFloorDiv(s"ts div 1000 - ${day0}L",
            "86400000000L")).as("k")))
      .orderBy(col("trend_score").desc, col("item"))
      .limit(20)
  }

  /** Item LIFECYCLE profile: per item the first/last day seen, calendar
    * span, distinct active days, and the fill ratio active/span — the
    * catalog-health readout separating steadily-available items from
    * flash-in-the-pan ones (feeds availability-aware recommendation and
    * q166's trending interpretation).
    *
    * Determinism: day indexes are exact integer floor-division; span and
    * active-day counts are integers; the one ratio divides them under the
    * 4 dp pin. Scale: ONE item-grain aggregation, count(DISTINCT day)
    * expands map-side; no joins, no windows. */
  def q173(s: SparkSession, d: String): DataFrame = {
    val day0 = 1704067200000000L
    events(s, d)
      .select(itemFromProps.as("item"),
        expr(graft.Tables.sqlFloorDiv(s"ts div 1000 - ${day0}L",
          "86400000000L")).as("day"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_events"),
        min("day").as("first_day"), max("day").as("last_day"),
        countDistinct("day").as("active_days"))
      .select(col("item"), col("n_events"), col("first_day"),
        col("last_day"),
        (col("last_day") - col("first_day") + 1L).as("span_days"),
        col("active_days"),
        r4(col("active_days").cast("double") /
          (col("last_day") - col("first_day") + 1L).cast("double"))
          .as("fill_ratio"))
      .orderBy("item")
  }

  /** Association RULES from the capped co-occurrence support — the
    * market-basket readout beside q107's symmetric PMI: directed rules
    * A→B with confidence c_ab/c_a and lift c_ab·N/(c_a·c_b), min support
    * 10, top-20 by lift. Confidence is what a rule engine acts on
    * ("users with A also have B"); lift says whether the rule beats
    * chance — both needed, neither derivable from the other.
    *
    * Determinism: all counts exact integers off the shared pairSupport
    * memo; both metrics are single int-ratio divisions pinned 4 dp, and
    * pinned-equal ties break on (ante, cons). Scale: the pair explosion
    * is the q107-audited capped self-join (≤50² per user); mirroring to
    * directed form is a row-local union. */
  def q178(s: SparkSession, d: String): DataFrame = {
    val r = cappedRatings(s, d).select(col("user_id"), col("item"))
    val n = r.agg(countDistinct(col("user_id")).as("n_users"))
    val ci = r.groupBy("item").agg(count(lit(1)).as("c"))
    val und = pairSupport(s, d)
    val directed = und
      .select(col("item_a").as("ante"), col("item_b").as("cons"), col("c_ab"))
      .unionByName(und.select(col("item_b").as("ante"),
        col("item_a").as("cons"), col("c_ab")))
    directed.filter(col("c_ab") >= 10)
      .join(ci.select(col("item").as("ante"), col("c").as("c_a")), "ante")
      .join(ci.select(col("item").as("cons"), col("c").as("c_b")), "cons")
      .crossJoin(broadcast(n))
      .select(col("ante"), col("cons"), col("c_ab"),
        r4(col("c_ab").cast("double") / col("c_a").cast("double"))
          .as("confidence"),
        r4((col("c_ab") * col("n_users")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
      .limit(20)
  }

  /** Weekly top-5 RANK CHURN: per week the top-5 clicked items with their
    * rank, previous-week rank (null for new entrants) and the delta — the
    * leaderboard-movement readout behind "trending up/down" badges, and
    * the temporal companion to q166's point-in-time decay score.
    *
    * Determinism: integer floor-div week indexes, exact counts, ranks
    * tiebroken on item; the previous-week lookup is an exact equi join on
    * (item, wk−1), NOT a lag over observed weeks (which would silently
    * skip absent weeks). Scale: rank windows partition by week (each
    * partition ≤ catalog-sized); the self-join keys on (item, wk). */
  def q180(s: SparkSession, d: String): DataFrame = {
    val day0 = 1704067200000000L
    val weekUs = 7L * 86400000000L
    val wk = events(s, d).filter(col("event_type") === "click")
      .select(itemFromProps.as("item"),
        expr(graft.Tables.sqlFloorDiv(s"ts div 1000 - ${day0}L",
          s"${weekUs}L")).as("wk"))
      .groupBy("wk", "item").agg(count(lit(1)).as("n"))
    val ranked = wk.withColumn("rnk",
      row_number().over(Window.partitionBy("wk")
        .orderBy(col("n").desc, col("item"))).cast("long"))
    val prev = ranked.select(col("item"), (col("wk") + 1L).as("wk"),
      col("rnk").as("prev_rnk"))
    ranked.filter(col("rnk") <= 5)
      .join(prev, Seq("item", "wk"), "left")
      .select(col("wk"), col("item"), col("n"), col("rnk"), col("prev_rnk"),
        (col("prev_rnk") - col("rnk")).as("delta"))
      .orderBy("wk", "rnk")
  }

  /** Weighted Slope One rating prediction (Lemire & Maclachlan 2005): the
    * per-pair average rating DEVIATION dev(j,i) = Σ(r_uj − r_ui)/c_ji over
    * co-raters, then each observed (u, j) predicted from the user's OTHER
    * items as Σᵢ c_ji·(dev(j,i) + r_ui) / Σᵢ c_ji — the no-training,
    * incrementally-updatable collaborative predictor (beside q62's bias
    * model and q88's item-kNN: Slope One weighs by co-rating SUPPORT where
    * kNN weighs by similarity). Scored over every observed pair, so
    * rating vs pred compare directly.
    *
    * Determinism: deviations are double ratios over identical row sets;
    * the prediction's ≤|items| addends drift ≪ the 4 dp pin. Scale: the
    * user-keyed self-join is the q107/q63 pair-explosion shape (Σ n_u²),
    * so like the REST of the pair family (q63/q64/q88/q107/q133/q134) it
    * runs on [[graft.Tables.cappedRatings]] — top-50 items per user, the
    * bound that keeps the explosion linear-in-users under power-law
    * activity (identical results below the cap; the oracle applies the
    * same capped CTE). The deviation matrix is items²-bounded and
    * BROADCASTS while the catalog is dimension-sized — at open-catalog
    * scale swap for a shuffle join on (j, i). The pair relation is
    * derived twice (dev agg + score join); both derivations share the
    * one capped-ratings cache. */
  def q197(s: SparkSession, d: String): DataFrame = {
    val r = cappedRatings(s, d)
    val a = r.select(col("user_id"), col("item").as("j"), col("rating").as("rj"))
    val b = r.select(col("user_id"), col("item").as("i"), col("rating").as("ri"))
    val pr = a.join(b, "user_id").filter(col("j") =!= col("i"))
    // dv is pinned at 10 dp and the prediction double-rounded (10 dp →
    // 4 dp): ratings are rational averages of 2-decimal values, so the
    // exact prediction can sit ON a 4 dp half-way point — both engines
    // must collapse onto the same 10 dp grid point BEFORE the output pin
    // or ulp-level summation drift splits the midpoint.
    // r15 session 2: the deviation grain is item-pair-sized (bounded by
    // co-rated pairs under the top-50 cap) but its build is the full
    // user-keyed pair fan-out, and the plan references `pr` twice (this
    // agg + the join probe) above the capped50 CACHE — where AQE never
    // reuses exchanges, so the 2.4M-row pair join executed twice per run.
    // Memo+cached once per session (the q145/q149 pattern); the probe-side
    // fan-out stays per-run.
    val dev = graft.Tables.memoized(s, d, "slopeOneDev") {
      pr.groupBy("j", "i")
        .agg(rnd(sum(col("rj") - col("ri")) / count(lit(1)), 10).as("dv"),
          count(lit(1)).as("c"))
    }
    pr.join(broadcast(dev), Seq("j", "i"))
      .groupBy(col("user_id"), col("j").as("item"))
      .agg(r4(max("rj")).as("rating"),
        r4(rnd(sum(col("c") * (col("dv") + col("ri"))) /
          sum(col("c")).cast("double"), 10)).as("pred"))
      .orderBy("user_id", "item")
  }

  /** Intra-list similarity / diversity of each user's top-10 items — the
    * beyond-accuracy metric (Ziegler et al. 2005) read next to q126's
    * coverage: a user whose list's average pairwise item-cosine is high
    * is being fed near-duplicates (ILS → 1, diversity → 0). Pairwise
    * similarities come from the SAME [[graft.Tables.itemDots]] relation
    * q63/q88 rank with, so the metric measures exactly what the
    * recommenders optimize; item pairs with no co-rater have dot 0 —
    * orthogonal, cosine 0. Reports the 20 least-diverse users.
    *
    * Determinism: the top-10 cut orders by the 4 dp-pinned rating with
    * item tiebreak (the cappedRatings discipline, top-10 ⊂ top-50); each
    * cosine divides identical sums; the per-user mean averages ≤45 such
    * values — drift ≪ the 4 dp pin; final order is on the pinned mean
    * with user tiebreak. Scale: the cap bounds pairs at 45/user —
    * row-linear in users; the pair→dot join keys the canonical (i1, i2)
    * grain; norms are catalog-sized broadcasts. */
  def q235(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(r4(col("rating")).desc, col("item"))
    val top10 = cappedRatings(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("user_id", "item")
    val nrm = ratings(s, d).groupBy("item")
      .agg(sum(col("rating") * col("rating")).as("sq"))
    val pairs = top10.select(col("user_id"), col("item").as("i1"))
      .join(top10.select(col("user_id"), col("item").as("i2")), "user_id")
      .filter(col("i1") < col("i2"))
    val scored = pairs
      .join(graft.Tables.itemDots(s, d), Seq("i1", "i2"), "left")
      .join(broadcast(nrm.select(col("item").as("i1"), col("sq").as("sq1"))), "i1")
      .join(broadcast(nrm.select(col("item").as("i2"), col("sq").as("sq2"))), "i2")
      .withColumn("cos", coalesce(
        col("dot") / nullif(sqrt(col("sq1")) * sqrt(col("sq2")), lit(0.0)),
        lit(0.0)))
    val items = top10.groupBy("user_id").agg(count(lit(1)).as("n_items"))
    scored.groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), r4(avg("cos")).as("ils"))
      .join(items, "user_id")
      .select(col("user_id"), col("n_items"), col("n_pairs"),
        col("ils"), r4(lit(1.0) - col("ils")).as("diversity"))
      .orderBy(col("ils").desc, col("user_id"))
      .limit(20)
  }

  /** Novelty / mainstreamness of each user's top-10 list — the third
    * beyond-accuracy metric beside q126 (exposure coverage+Gini) and q235
    * (intra-list diversity): mean self-information −log₂(popularity
    * share) of the listed items (Vargas & Castells 2011). A high-novelty
    * user's list lives in the long tail; avg_pop_share is the same
    * reading in plain popularity units. Reports the 20 most-novel users.
    *
    * Determinism: shares divide exact longs, so every −log₂ term is the
    * same IEEE double in both engines; the per-user mean averages ≤10
    * such terms (drift ≪ 4 dp); order on the pinned novelty with user
    * tiebreak. Scale: the top-10 cut inherits the cappedRatings window
    * (fact-partitioned by user); popularity is a catalog-sized broadcast;
    * everything else is row-linear. */
  def q249(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(r4(col("rating")).desc, col("item"))
    val top10 = cappedRatings(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("user_id", "item")
    val pop = ratings(s, d).groupBy("item").agg(count(lit(1)).as("cnt"))
    val tot = pop.agg(sum("cnt").as("tot"))
    top10.join(broadcast(pop), "item").crossJoin(broadcast(tot))
      .withColumn("share", col("cnt").cast("double") / col("tot").cast("double"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_items"),
        r4(avg(-log2(col("share")))).as("novelty"),
        r5(avg(col("share"))).as("avg_pop_share"))
      .orderBy(col("novelty").desc, col("user_id"))
      .limit(20)
  }

  /** AUC / Gini of the q62 bias scorer against the "rating ≥ 4" label —
    * the threshold-free eval completing the model-eval family (q136
    * calibration, q67/q87 top-k ranking; THIS answers "does the score
    * order positives above negatives at all cutoffs"). Computed through
    * the Mann–Whitney bridge: AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) with
    * tie-AVERAGED ranks (the exact trapezoidal tie convention), so the
    * rank machinery is [[graft.api.Graft.prefixSum]] over the pinned
    * score support — the q211/q243 discipline, never a fact-grain
    * global window.
    *
    * Determinism: preds/labels are 4 dp-pinned grids; R₊ sums exact
    * half-integers; the n₊·n₋ product computes in double (exact below
    * 2⁵³ — and at the 100 TB point where it is not, AUC's 5 dp pin
    * dwarfs the ulp). Scale: one score-support agg + the range-blocked
    * prefix scan + a one-row assembly. */
  def q265(s: SparkSession, d: String): DataFrame = {
    // r14: the score support comes from the shared predSupport memo — the
    // pred grid is nearly row-unique, so this agg is fact-sized and was
    // being rebuilt at every prefix-scan reference (see Tables.predSupport)
    val sup = graft.Tables.predSupport(s, d).select("pred", "cp", "t")
    val ranked = graft.api.Graft.tieRanks(sup, Nil, "pred", "t", "fr")
    ranked.agg(sum("t").as("n"), sum("cp").as("n_pos"),
        sum(col("cp") * col("fr")).as("rpos"))
      // nullif: a single-class corpus has no pairs to order — null, not
      // x/0 (the q243 degenerate-input guard class)
      .select(col("n"), col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        ((col("rpos") - col("n_pos").cast("double") * (col("n_pos") + 1) / lit(2.0)) /
          nullif(col("n_pos").cast("double") * (col("n") - col("n_pos")).cast("double"),
            lit(0.0))).as("a"))
      .select(col("n"), col("n_pos"), col("n_neg"), r5(col("a")).as("auc"),
        r5(lit(2.0) * col("a") - lit(1.0)).as("gini_coef"))
  }

  /** Decile gains / lift table of the q62 bias scorer — the campaign-
    * targeting readout beside q265's AUC and q136's calibration: rows
    * deciled by score RANK from the top (bin 1 = highest scores, whole
    * tie groups together — the q136 integer-bin discipline on the
    * DESCENDING cumulative), per bin the response rate, lift over the
    * base rate, and the cumulative capture (gains) and precision curves.
    * "Bin 1 captures 25% of positives at 2.1× lift" is the sentence this
    * table exists to produce.
    *
    * Determinism: bins are exact integer arithmetic on support-grain
    * cumulative counts; rates divide exact longs; cumulatives run over
    * the ≤10-row bin grain. Scale: score-support agg + range-blocked
    * prefix scan + a 10-row window. */
  def q266(s: SparkSession, d: String): DataFrame = {
    // r14: shared fact-sized score support via the predSupport memo (q265)
    val sup = graft.Tables.predSupport(s, d).select("pred", "cp", "t")
    val cum = graft.api.Graft.prefixSum(sup, "pred", Seq("t"))
    val tot = sup.agg(sum("t").as("nn"), sum("cp").as("npos"))
    val binned = cum.crossJoin(broadcast(tot))
      // rank-from-the-top cumulative: highest preds land in bin 1
      .withColumn("cum_desc", col("nn") - col("t_cum") + col("t"))
      .withColumn("bin", expr("(cum_desc * 10 + nn - 1) div nn"))
      .groupBy("bin")
      .agg(sum("t").as("n"), sum("cp").as("n_pos"),
        max("nn").as("nn"), max("npos").as("npos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    binned
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      // nullif on npos: a zero-positive corpus makes the base rate 0 —
      // null, not x/0 (Spark nulls, DuckDB infs; the q265/q268 guard)
      .select(col("bin"), col("n"), col("n_pos"),
        r4(col("n_pos").cast("double") / col("n").cast("double")).as("rate"),
        r4((col("n_pos").cast("double") / col("n").cast("double")) /
          nullif(col("npos").cast("double") / col("nn").cast("double"),
            lit(0.0))).as("lift"),
        r4(col("cum_pos").cast("double") /
          nullif(col("npos").cast("double"), lit(0.0))).as("gain"),
        r4(col("cum_pos").cast("double") / col("cum_n").cast("double")).as("cum_precision"))
      .orderBy("bin")
  }

  /** Thresholded confusion matrix of the q62 bias scorer at pred ≥ 4 —
    * the operating-point companion to q265's threshold-free AUC: tp/fp/
    * fn/tn plus precision, recall, F1, accuracy and Matthews correlation
    * (the single balanced number that survives class skew; products in
    * DOUBLE — the four marginals each overflow LONG multiplication near
    * ~3·10⁹ rows — with the q265 nullif guard for any empty marginal).
    *
    * Determinism: counts are exact longs off the 4 dp-pinned score/label
    * grids; every derived metric divides the same exact values. Scale:
    * ONE map-side-combined fact agg to four counters. */
  def q268(s: SparkSession, d: String): DataFrame = {
    val c = biasScored(s, d)
      .select(when(col("pred") >= 4.0, 1L).otherwise(0L).as("ph"),
        when(col("rating") >= 4.0, 1L).otherwise(0L).as("y"))
      .agg(sum(when(col("ph") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("ph") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("ph") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("ph") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
      r4(col("tp").cast("double") /
        nullif((col("tp") + col("fp")).cast("double"), lit(0.0))).as("precision"),
      r4(col("tp").cast("double") /
        nullif((col("tp") + col("fn")).cast("double"), lit(0.0))).as("recall"),
      r4(lit(2.0) * col("tp").cast("double") /
        nullif((lit(2.0) * col("tp") + col("fp") + col("fn")).cast("double"),
          lit(0.0))).as("f1"),
      r4((col("tp") + col("tn")).cast("double") /
        (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
        .as("accuracy"),
      r4((col("tp").cast("double") * col("tn").cast("double") -
          col("fp").cast("double") * col("fn").cast("double")) /
        nullif(sqrt((col("tp") + col("fp")).cast("double") *
          (col("tp") + col("fn")).cast("double") *
          (col("tn") + col("fp")).cast("double") *
          (col("tn") + col("fn")).cast("double")), lit(0.0))).as("mcc"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q265_score_auc" -> q265,
    "q266_gains_lift" -> q266,
    "q268_threshold_confusion" -> q268,
    "q249_rec_novelty" -> q249,
    "q235_rec_diversity" -> q235,
    "q197_slope_one" -> q197,
    "q178_assoc_rules" -> q178,
    "q180_rank_churn" -> q180,
    "q173_item_lifecycle" -> q173,
    "q165_item_bayes_score" -> q165,
    "q166_trending_decay" -> q166,
    "q136_calibration_bins" -> q136,
    "q137_covisit_decay" -> q137,
    "q147_negative_samples" -> q147,
    "q126_rec_coverage" -> q126,
    "q107_item_cooccur_pmi" -> q107,
    "q108_next_item_transition" -> q108,
    "q87_ranking_mrr_map" -> q87,
    "q88_item_knn_predict" -> q88,
    "q89_segment_recs" -> q89,
    "q60_ratings_matrix" -> q60,
    "q61_item_popularity" -> q61,
    "q62_user_item_bias" -> q62,
    "q63_item_cosine_sim" -> q63,
    "q64_user_knn_predict" -> q64,
    "q65_als_recommend" -> q65,
    "q66_als_rmse" -> q66,
    "q67_ranking_metrics" -> q67,
    "q160_rec_pipeline" -> q160,
    "q68_tfidf_terms" -> q68)

  val oracle: Map[String, String] = Map(
    "q268_threshold_confusion" ->
      s"""WITH r AS ($ratingsSql),
         |mu AS (SELECT avg(rating) AS mu FROM r),
         |bu AS (SELECT user_id, avg(rating) - (SELECT mu FROM mu) AS bu
         |  FROM r GROUP BY 1),
         |bi AS (SELECT item, avg(rating - (SELECT mu FROM mu) - bu.bu) AS bi
         |  FROM r JOIN bu USING (user_id) GROUP BY 1),
         |scored AS (SELECT
         |    CASE WHEN ${sr4("mu.mu + bu.bu + bi.bi")} >= 4e0 THEN 1 ELSE 0 END AS ph,
         |    CASE WHEN ${sr4("r.rating")} >= 4e0 THEN 1 ELSE 0 END AS y
         |  FROM r JOIN bu USING (user_id) JOIN bi USING (item) CROSS JOIN mu),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN ph = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN ph = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN ph = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN ph = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored)
         |SELECT tp, fp, fn, tn,
         |  ${sr4("CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0e0)")} AS precision,
         |  ${sr4("CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0e0)")} AS recall,
         |  ${sr4("2e0 * CAST(tp AS DOUBLE) / nullif(CAST(2e0 * tp + fp + fn AS DOUBLE), 0e0)")} AS f1,
         |  ${sr4("CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)")} AS accuracy,
         |  ${sr4("(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / nullif(sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 0e0)")} AS mcc
         |FROM c""".stripMargin,
    "q265_score_auc" ->
      s"""WITH r AS ($ratingsSql),
         |mu AS (SELECT avg(rating) AS mu FROM r),
         |bu AS (SELECT user_id, avg(rating) - (SELECT mu FROM mu) AS bu
         |  FROM r GROUP BY 1),
         |bi AS (SELECT item, avg(rating - (SELECT mu FROM mu) - bu.bu) AS bi
         |  FROM r JOIN bu USING (user_id) GROUP BY 1),
         |scored AS (SELECT ${sr4("mu.mu + bu.bu + bi.bi")} AS pred,
         |    CASE WHEN ${sr4("r.rating")} >= 4e0 THEN 1 ELSE 0 END AS p
         |  FROM r JOIN bu USING (user_id) JOIN bi USING (item) CROSS JOIN mu),
         |sup AS (SELECT pred, CAST(sum(p) AS BIGINT) AS cp,
         |    CAST(count(*) AS BIGINT) AS t FROM scored GROUP BY 1),
         |rk AS (SELECT cp, t,
         |    CAST(sum(t) OVER (ORDER BY pred ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tc
         |  FROM sup),
         |agg AS (SELECT CAST(sum(t) AS BIGINT) AS n, CAST(sum(cp) AS BIGINT) AS n_pos,
         |    sum(cp * (CAST(tc - t AS DOUBLE) + CAST(t + 1 AS DOUBLE) / 2e0)) AS rpos
         |  FROM rk),
         |f AS (SELECT n, n_pos, n - n_pos AS n_neg,
         |    (rpos - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2e0) /
         |      nullif(CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE), 0e0) AS a
         |  FROM agg)
         |SELECT n, n_pos, n_neg, ${sr5("a")} AS auc,
         |  ${sr5("2e0 * a - 1e0")} AS gini_coef
         |FROM f""".stripMargin,
    "q266_gains_lift" ->
      s"""WITH r AS ($ratingsSql),
         |mu AS (SELECT avg(rating) AS mu FROM r),
         |bu AS (SELECT user_id, avg(rating) - (SELECT mu FROM mu) AS bu
         |  FROM r GROUP BY 1),
         |bi AS (SELECT item, avg(rating - (SELECT mu FROM mu) - bu.bu) AS bi
         |  FROM r JOIN bu USING (user_id) GROUP BY 1),
         |scored AS (SELECT ${sr4("mu.mu + bu.bu + bi.bi")} AS pred,
         |    CASE WHEN ${sr4("r.rating")} >= 4e0 THEN 1 ELSE 0 END AS p
         |  FROM r JOIN bu USING (user_id) JOIN bi USING (item) CROSS JOIN mu),
         |sup AS (SELECT pred, CAST(sum(p) AS BIGINT) AS cp,
         |    CAST(count(*) AS BIGINT) AS t FROM scored GROUP BY 1),
         |tot AS (SELECT CAST(sum(t) AS BIGINT) AS nn,
         |    CAST(sum(cp) AS BIGINT) AS npos FROM sup),
         |cum AS (SELECT cp, t,
         |    CAST(sum(t) OVER (ORDER BY pred ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tc
         |  FROM sup),
         |binned AS (SELECT CAST(((nn - tc + t) * 10 + nn - 1) // nn AS BIGINT) AS bin,
         |    CAST(sum(t) AS BIGINT) AS n, CAST(sum(cp) AS BIGINT) AS n_pos,
         |    max(nn) AS nn, max(npos) AS npos
         |  FROM cum CROSS JOIN tot GROUP BY 1),
         |c2 AS (SELECT bin, n, n_pos, nn, npos,
         |    CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         |    CAST(sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
         |  FROM binned)
         |SELECT bin, n, n_pos,
         |  ${sr4("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)")} AS rate,
         |  ${sr4("(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) / nullif(CAST(npos AS DOUBLE) / CAST(nn AS DOUBLE), 0e0)")} AS lift,
         |  ${sr4("CAST(cum_pos AS DOUBLE) / nullif(CAST(npos AS DOUBLE), 0e0)")} AS gain,
         |  ${sr4("CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)")} AS cum_precision
         |FROM c2 ORDER BY bin""".stripMargin,
    "q249_rec_novelty" ->
      s"""WITH r AS ($ratingsSql),
         |t AS (SELECT user_id, item FROM (
         |    SELECT user_id, item, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 10),
         |pop AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM pop),
         |sh AS (SELECT t.user_id,
         |    CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS share
         |  FROM t JOIN pop USING (item) CROSS JOIN tot)
         |SELECT user_id, count(*) AS n_items,
         |  ${sr4("avg(-log2(share))")} AS novelty,
         |  ${sr5("avg(share)")} AS avg_pop_share
         |FROM sh GROUP BY 1
         |ORDER BY novelty DESC, user_id LIMIT 20""".stripMargin,
    "q235_rec_diversity" ->
      s"""WITH r AS ($ratingsSql),
         |t AS (SELECT user_id, item FROM (
         |    SELECT user_id, item, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 10),
         |nrm AS (SELECT item, sum(rating * rating) AS sq FROM r GROUP BY 1),
         |dots AS (SELECT a.item AS i1, b.item AS i2, sum(a.rating * b.rating) AS dot
         |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |pairs AS (SELECT a.user_id, a.item AS i1, b.item AS i2
         |  FROM t a JOIN t b ON a.user_id = b.user_id AND a.item < b.item),
         |sc AS (SELECT p.user_id,
         |    coalesce(d.dot / nullif(sqrt(n1.sq) * sqrt(n2.sq), 0e0), 0e0) AS cos
         |  FROM pairs p LEFT JOIN dots d ON p.i1 = d.i1 AND p.i2 = d.i2
         |  JOIN nrm n1 ON p.i1 = n1.item JOIN nrm n2 ON p.i2 = n2.item),
         |g AS (SELECT user_id, count(*) AS n_pairs,
         |    ${sr4("avg(cos)")} AS ils FROM sc GROUP BY 1),
         |items AS (SELECT user_id, count(*) AS n_items FROM t GROUP BY 1)
         |SELECT g.user_id, items.n_items, g.n_pairs, g.ils,
         |  ${sr4("1e0 - g.ils")} AS diversity
         |FROM g JOIN items USING (user_id)
         |ORDER BY g.ils DESC, g.user_id LIMIT 20""".stripMargin,
    "q197_slope_one" ->
      s"""WITH r AS ($ratingsSql),
         |capped AS (SELECT user_id, item, rating FROM (
         |    SELECT user_id, item, rating, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 50),
         |pr AS (SELECT a.user_id, a.item AS j, a.rating AS rj,
         |    b.item AS i, b.rating AS ri
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item <> b.item),
         |dev AS (SELECT j, i, ${sqlRnd("sum(rj - ri) / count(*)", 10)} AS dv,
         |    count(*) AS c FROM pr GROUP BY 1, 2)
         |SELECT pr.user_id, pr.j AS item, ${sr4("max(pr.rj)")} AS rating,
         |  ${sr4(sqlRnd("sum(dev.c * (dev.dv + pr.ri)) / CAST(sum(dev.c) AS DOUBLE)", 10))} AS pred
         |FROM pr JOIN dev ON pr.j = dev.j AND pr.i = dev.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q178_assoc_rules" ->
      s"""WITH r AS ($ratingsSql),
         |capped AS (SELECT user_id, item FROM (
         |    SELECT user_id, item, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 50),
         |n AS (SELECT count(DISTINCT user_id) AS n_users FROM capped),
         |ci AS (SELECT item, count(*) AS c FROM capped GROUP BY 1),
         |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |dir AS (SELECT item_a AS ante, item_b AS cons, c_ab FROM p
         |  UNION ALL SELECT item_b, item_a, c_ab FROM p)
         |SELECT ante, cons, c_ab,
         |  ${sr4("CAST(c_ab AS DOUBLE) / CAST(ca.c AS DOUBLE)")} AS confidence,
         |  ${sr4("CAST(c_ab * n.n_users AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE)")} AS lift
         |FROM dir JOIN ci ca ON dir.ante = ca.item
         |JOIN ci cb ON dir.cons = cb.item CROSS JOIN n
         |WHERE c_ab >= 10
         |ORDER BY lift DESC, ante, cons LIMIT 20""".stripMargin,
    "q180_rank_churn" ->
      s"""WITH c AS (SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS wk
         |  FROM events WHERE event_type = 'click'),
         |wkc AS (SELECT wk, item, count(*) AS n FROM c GROUP BY 1, 2),
         |rk AS (SELECT wk, item, n, CAST(row_number() OVER (
         |    PARTITION BY wk ORDER BY n DESC, item) AS BIGINT) AS rnk FROM wkc)
         |SELECT rk.wk, rk.item, rk.n, rk.rnk, pv.prev_rnk,
         |  pv.prev_rnk - rk.rnk AS delta
         |FROM rk LEFT JOIN (SELECT item, wk + 1 AS wk, rnk AS prev_rnk
         |  FROM rk) pv USING (item, wk)
         |WHERE rk.rnk <= 5
         |ORDER BY rk.wk, rk.rnk""".stripMargin,
    "q173_item_lifecycle" ->
      s"""WITH e AS (SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    (epoch_us(ts) - 1704067200000000) // 86400000000 AS day
         |  FROM events),
         |g AS (SELECT item, count(*) AS n_events, min(day) AS first_day,
         |    max(day) AS last_day, count(DISTINCT day) AS active_days
         |  FROM e GROUP BY 1)
         |SELECT item, n_events, first_day, last_day,
         |  last_day - first_day + 1 AS span_days, active_days,
         |  ${sr4("CAST(active_days AS DOUBLE) / CAST(last_day - first_day + 1 AS DOUBLE)")} AS fill_ratio
         |FROM g ORDER BY item""".stripMargin,
    "q165_item_bayes_score" ->
      s"""WITH buys AS (SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    value FROM events WHERE event_type = 'purchase'),
         |g AS (SELECT sum(value) / count(*) AS mu FROM buys),
         |per AS (SELECT item, count(*) AS n, sum(value) AS sv
         |  FROM buys GROUP BY 1)
         |SELECT item, n, ${sr4("sv / n")} AS raw_mean,
         |  ${sr4("(25.0e0 * mu + sv) / (25.0e0 + n)")} AS bayes_score
         |FROM per, g
         |ORDER BY bayes_score DESC, item LIMIT 20""".stripMargin,
    "q166_trending_decay" ->
      s"""WITH c AS (SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |    (epoch_us(ts) - 1704067200000000) // 86400000000 AS k
         |  FROM events WHERE event_type = 'click')
         |SELECT item, count(*) AS n_clicks,
         |  ${sr4("sum(pow(0.5e0, CAST(30 - k AS DOUBLE) / 7.0e0))")} AS trend_score
         |FROM c GROUP BY 1
         |ORDER BY trend_score DESC, item LIMIT 20""".stripMargin,
    "q147_negative_samples" ->
      s"""WITH r0 AS ($ratingsSql),
         |r AS (SELECT user_id, item FROM r0),
         |u AS (SELECT DISTINCT user_id FROM r),
         |i AS (SELECT DISTINCT item FROM r),
         |cand AS (SELECT u.user_id, i.item FROM u CROSS JOIN i
         |  WHERE NOT EXISTS (SELECT 1 FROM r
         |    WHERE r.user_id = u.user_id AND r.item = i.item)),
         |h AS (SELECT user_id, item,
         |    sha256(CAST(user_id AS VARCHAR) || ':' || CAST(item AS VARCHAR)) AS h
         |  FROM cand),
         |rk AS (SELECT user_id, item, CAST(row_number() OVER (
         |    PARTITION BY user_id ORDER BY h, item) AS BIGINT) AS rnk FROM h)
         |SELECT user_id, rnk, item FROM rk WHERE rnk <= 3
         |ORDER BY user_id, rnk""".stripMargin,
    "q136_calibration_bins" ->
      s"""WITH r AS ($ratingsSql),
         |mu AS (SELECT avg(rating) AS mu FROM r),
         |bu AS (SELECT user_id, avg(rating) - (SELECT mu FROM mu) AS bu
         |  FROM r GROUP BY 1),
         |bi AS (SELECT item, avg(rating - (SELECT mu FROM mu) - bu.bu) AS bi
         |  FROM r JOIN bu USING (user_id) GROUP BY 1),
         |scored AS (SELECT r.user_id, r.item,
         |    ${sr4("mu.mu + bu.bu + bi.bi")} AS pred,
         |    ${sr4("r.rating")} AS rating
         |  FROM r JOIN bu USING (user_id) JOIN bi USING (item) CROSS JOIN mu),
         |pv AS (SELECT pred, count(*) AS npv, sum(rating) AS sr
         |  FROM scored GROUP BY 1),
         |tot AS (SELECT CAST(sum(npv) AS BIGINT) AS ntot FROM pv),
         |cum AS (SELECT pred, npv, sr,
         |    CAST(sum(npv) OVER (ORDER BY pred ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS c
         |  FROM pv),
         |b AS (SELECT CAST((c * 10 + ntot - 1) // ntot AS BIGINT) AS bin,
         |    npv, pred * npv AS sp, sr
         |  FROM cum CROSS JOIN tot)
         |SELECT bin, CAST(sum(npv) AS BIGINT) AS n,
         |  ${sr4("sum(sp) / CAST(sum(npv) AS DOUBLE)")} AS avg_pred,
         |  ${sr4("sum(sr) / CAST(sum(npv) AS DOUBLE)")} AS avg_actual,
         |  ${sr4("abs(sum(sp) / CAST(sum(npv) AS DOUBLE) - sum(sr) / CAST(sum(npv) AS DOUBLE))")} AS gap
         |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,
    "q137_covisit_decay" ->
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |p AS (SELECT least(a.item, b.item) AS ia, greatest(a.item, b.item) AS ib,
         |    exp(-CAST(abs(a.us - b.us) AS DOUBLE) / 1800e6) AS wt
         |  FROM ev a JOIN ev b ON a.user_id = b.user_id
         |    AND a.event_id < b.event_id
         |    AND abs(a.us - b.us) <= 3600000000
         |    AND a.item != b.item)
         |SELECT ia, ib, count(*) AS n_copairs, ${sr4("sum(wt)")} AS score
         |FROM p GROUP BY 1, 2 ORDER BY score DESC, ia, ib LIMIT 20""".stripMargin,
    "q126_rec_coverage" ->
      s"""WITH r AS ($ratingsSql),
         |ru AS (SELECT user_id, item FROM r),
         |pop AS (SELECT item, count(*) AS cnt FROM ru GROUP BY 1),
         |top50 AS (SELECT item, cnt FROM pop ORDER BY cnt DESC, item LIMIT 50),
         |recs AS (SELECT user_id, item FROM (
         |    SELECT c.user_id, c.item, row_number() OVER (
         |      PARTITION BY c.user_id ORDER BY c.cnt DESC, c.item) AS rnk
         |    FROM (SELECT u.user_id, t.item, t.cnt
         |          FROM (SELECT DISTINCT user_id FROM ru) u CROSS JOIN top50 t) c
         |    WHERE NOT EXISTS (SELECT 1 FROM ru
         |      WHERE ru.user_id = c.user_id AND ru.item = c.item))
         |  WHERE rnk <= 5),
         |expo AS (SELECT item, count(*) AS e FROM recs GROUP BY 1),
         |gin AS (SELECT count(*) AS n_rec, sum(e) AS tot_e, sum(i * e) AS ie
         |  FROM (SELECT item, e, CAST(row_number() OVER (ORDER BY e ASC, item) AS BIGINT) AS i
         |        FROM expo)),
         |meta AS (SELECT
         |  (SELECT count(DISTINCT user_id) FROM ru) AS n_users,
         |  (SELECT count(*) FROM pop) AS n_catalog)
         |SELECT n_users, n_catalog, CAST(n_rec AS BIGINT) AS n_recommended,
         |  ${sr4("CAST(n_rec AS DOUBLE) / CAST(n_catalog AS DOUBLE)")} AS coverage,
         |  ${sr4("2e0 * CAST(ie AS DOUBLE) / (CAST(n_rec AS DOUBLE) * CAST(tot_e AS DOUBLE)) " +
                 "- CAST(n_rec + 1 AS DOUBLE) / CAST(n_rec AS DOUBLE)")} AS gini
         |FROM gin CROSS JOIN meta""".stripMargin,
    "q107_item_cooccur_pmi" ->
      s"""WITH r AS ($ratingsSql),
         |capped AS (SELECT user_id, item FROM (
         |    SELECT user_id, item, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 50),
         |n AS (SELECT count(DISTINCT user_id) AS n_users FROM capped),
         |ci AS (SELECT item, count(*) AS c FROM capped GROUP BY 1),
         |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2)
         |SELECT p.item_a, p.item_b, p.c_ab,
         |  ${sr4("ln(CAST(p.c_ab * n.n_users AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE))")} AS pmi
         |FROM p JOIN ci ca ON p.item_a = ca.item
         |JOIN ci cb ON p.item_b = cb.item CROSS JOIN n
         |ORDER BY c_ab DESC, item_a, item_b LIMIT 20""".stripMargin,
    "q108_next_item_transition" ->
      s"""WITH e AS (SELECT user_id, event_id, ts,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |l AS (SELECT user_id, item, lag(item) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_item FROM e),
         |tr AS (SELECT prev_item, item AS next_item, count(*) AS c
         |  FROM l WHERE prev_item IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT prev_item, CAST(sum(c) AS BIGINT) AS t FROM tr GROUP BY 1)
         |SELECT tr.prev_item, tr.next_item, tr.c,
         |  ${sr4("CAST(tr.c AS DOUBLE) / CAST(tot.t AS DOUBLE)")} AS prob
         |FROM tr JOIN tot USING (prev_item)
         |ORDER BY c DESC, prev_item, next_item LIMIT 20""".stripMargin,
    "q87_ranking_mrr_map" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |recs AS (SELECT item, CAST(row_number() OVER (
         |      ORDER BY count(*) DESC, item) AS BIGINT) AS pos
         |  FROM ev WHERE event_type IN ('click', 'view')
         |  GROUP BY item ORDER BY count(*) DESC, item LIMIT 5),
         |rel AS (SELECT DISTINCT user_id, item FROM ev
         |  WHERE event_type = 'purchase'),
         |nrel AS (SELECT user_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |ap AS (SELECT user_id, min(pos) AS first_pos, sum(prec) AS sum_prec
         |  FROM (SELECT user_id, pos,
         |      CAST(row_number() OVER (PARTITION BY user_id ORDER BY pos) AS DOUBLE)
         |        / pos AS prec
         |    FROM rel JOIN recs USING (item))
         |  GROUP BY 1)
         |SELECT count(*) AS n_users,
         |  ${sr4("avg(coalesce(1e0 / first_pos, 0e0))")} AS mrr,
         |  ${sr4("avg(coalesce(sum_prec, 0e0) / least(5e0, CAST(n_rel AS DOUBLE)))")} AS map_at_5
         |FROM nrel LEFT JOIN ap USING (user_id)""".stripMargin,
    "q88_item_knn_predict" ->
      s"""WITH r AS ($ratingsSql),
         |n AS (SELECT item, sum(rating*rating) AS sq FROM r GROUP BY 1),
         |half AS (SELECT i1, i2, ${sr5("dot / nullif(sqrt(n1.sq) * sqrt(n2.sq), 0e0)")} AS sim
         |  FROM (SELECT a.item AS i1, b.item AS i2, sum(a.rating*b.rating) AS dot
         |        FROM r a JOIN r b ON a.user_id = b.user_id AND a.item < b.item
         |        GROUP BY 1, 2) d
         |  JOIN n n1 ON d.i1 = n1.item JOIN n n2 ON d.i2 = n2.item),
         |sims AS (SELECT i1, i2, sim FROM half WHERE sim > 0
         |  UNION ALL SELECT i2, i1, sim FROM half WHERE sim > 0),
         |top10 AS (SELECT i1 AS item, i2 AS nbr, sim FROM (
         |    SELECT i1, i2, sim, row_number() OVER (PARTITION BY i1
         |      ORDER BY sim DESC, i2) AS rn FROM sims) WHERE rn <= 10)
         |SELECT tr.user_id, tr.item, count(*) AS n_nbrs,
         |  ${sr4("sum(t.sim * rv.rating) / sum(t.sim)")} AS pred
         |FROM r tr JOIN top10 t ON tr.item = t.item
         |JOIN r rv ON rv.user_id = tr.user_id AND rv.item = t.nbr
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q89_segment_recs" ->
      s"""WITH ev AS (SELECT user_id, value,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |agg AS (SELECT c_mktsegment, item, count(*) AS n_events,
         |    ${sr4("avg(value)")} AS avg_value
         |  FROM ev JOIN customer ON user_id = c_custkey
         |  GROUP BY 1, 2)
         |SELECT c_mktsegment, rnk, item, n_events, avg_value FROM (
         |  SELECT c_mktsegment, item, n_events, avg_value,
         |    CAST(row_number() OVER (PARTITION BY c_mktsegment
         |      ORDER BY n_events DESC, item) AS BIGINT) AS rnk
         |  FROM agg) WHERE rnk <= 3
         |ORDER BY c_mktsegment, rnk""".stripMargin,
    "q60_ratings_matrix" ->
      s"""SELECT user_id, item, ${sr4("rating")} AS rating
         |FROM ($ratingsSql) ORDER BY user_id, item""".stripMargin,
    "q61_item_popularity" ->
      s"""SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  ${sr4("avg(value)")} AS avg_value
         |FROM events GROUP BY 1
         |ORDER BY n_events DESC, item LIMIT 20""".stripMargin,
    "q62_user_item_bias" ->
      s"""WITH r AS ($ratingsSql),
         |mu AS (SELECT avg(rating) AS mu FROM r),
         |bu AS (SELECT user_id, avg(rating) - (SELECT mu FROM mu) AS bu
         |  FROM r GROUP BY 1),
         |bi AS (SELECT item, avg(rating - (SELECT mu FROM mu) - bu.bu) AS bi
         |  FROM r JOIN bu USING (user_id) GROUP BY 1)
         |SELECT r.user_id, r.item,
         |  ${sr4("mu.mu + bu.bu + bi.bi")} AS pred,
         |  ${sr4("r.rating")} AS rating
         |FROM r JOIN bu USING (user_id) JOIN bi USING (item) CROSS JOIN mu
         |ORDER BY user_id, item""".stripMargin,
    "q63_item_cosine_sim" ->
      s"""WITH r AS ($ratingsSql),
         |n AS (SELECT item, sum(rating*rating) AS sq FROM r GROUP BY 1),
         |d AS (SELECT a.item AS item1, b.item AS item2,
         |    sum(a.rating*b.rating) AS dot
         |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2)
         |SELECT item1, item2,
         |  ${sr5("dot / nullif(sqrt(n1.sq) * sqrt(n2.sq), 0e0)")} AS cosine
         |FROM d JOIN n n1 ON d.item1 = n1.item JOIN n n2 ON d.item2 = n2.item
         |ORDER BY cosine DESC, item1, item2 LIMIT 20""".stripMargin,
    "q64_user_knn_predict" ->
      s"""WITH r AS ($ratingsSql),
         |capped AS (SELECT user_id, item, rating FROM (
         |    SELECT user_id, item, rating, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ${sr4("rating")} DESC, item) AS rn
         |    FROM r) WHERE rn <= 50),
         |sup AS (SELECT item, ${sr4("rating")} AS rr,
         |    CAST(count(*) AS BIGINT) AS t FROM capped GROUP BY 1, 2),
         |cum AS (SELECT item, rr, t, CAST(sum(t) OVER (PARTITION BY item
         |    ORDER BY rr DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tc
         |  FROM sup),
         |thr AS (SELECT item, min(rr) AS thr FROM cum
         |  WHERE tc - t < 1024 GROUP BY 1),
         |contrib AS (SELECT c.user_id, c.item, c.rating FROM capped c
         |  JOIN thr ON c.item = thr.item WHERE ${sr4("c.rating")} >= thr.thr),
         |n AS (SELECT user_id, sum(rating*rating) AS sq FROM contrib GROUP BY 1),
         |dots AS (SELECT a.user_id AS u, b.user_id AS v,
         |    sum(a.rating*b.rating) AS dot
         |  FROM contrib a JOIN contrib b ON a.item = b.item AND a.user_id <> b.user_id
         |  GROUP BY 1, 2),
         |sims AS (SELECT u, v,
         |    ${sr5("dot / nullif(sqrt(nu.sq) * sqrt(nv.sq), 0e0)")} AS sim
         |  FROM dots JOIN n nu ON u = nu.user_id JOIN n nv ON v = nv.user_id),
         |top5 AS (SELECT u, v, sim FROM (
         |    SELECT u, v, sim,
         |      row_number() OVER (PARTITION BY u ORDER BY sim DESC, v) AS rn
         |    FROM sims WHERE sim > 0) WHERE rn <= 5)
         |SELECT tr.user_id, tr.item, count(*) AS n_nbrs,
         |  ${sr4("sum(p.sim * rv.rating) / sum(p.sim)")} AS pred
         |FROM r tr JOIN top5 p ON tr.user_id = p.u
         |JOIN r rv ON rv.user_id = p.v AND rv.item = tr.item
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q160_rec_pipeline" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |t AS (SELECT user_id, event_type, item,
         |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt
         |  FROM e),
         |tagged AS (SELECT user_id, event_type, item,
         |    CASE WHEN rn * 100 <= cnt * 70 THEN 'train' ELSE 'test' END AS split
         |  FROM t),
         |pop AS (SELECT item, count(*) AS pop FROM tagged
         |  WHERE split = 'train' AND event_type IN ('click', 'view') GROUP BY 1),
         |recs AS (SELECT item FROM pop ORDER BY pop DESC, item LIMIT 5),
         |rel AS (SELECT DISTINCT user_id, item FROM tagged
         |  WHERE split = 'test' AND event_type = 'purchase'),
         |nrel AS (SELECT user_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |hits AS (SELECT r.user_id, count(*) AS n_hits
         |  FROM rel r JOIN recs USING (item) GROUP BY 1),
         |per AS (SELECT n.n_rel, coalesce(h.n_hits, 0) AS n_hits
         |  FROM nrel n LEFT JOIN hits h USING (user_id)),
         |sizes AS (SELECT
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |  FROM tagged),
         |m AS (SELECT count(*) AS n_test_users,
         |    ${sr4("avg(n_hits / 5.0e0)")} AS p_at_5,
         |    ${sr4("avg(CAST(n_hits AS DOUBLE) / n_rel)")} AS r_at_5
         |  FROM per)
         |SELECT n_train, n_test, n_test_users, p_at_5, r_at_5
         |FROM m CROSS JOIN sizes""".stripMargin,
    "q67_ranking_metrics" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item FROM events),
         |recs AS (SELECT item, CAST(row_number() OVER (
         |      ORDER BY count(*) DESC, item) AS BIGINT) AS pos
         |  FROM ev WHERE event_type IN ('click', 'view')
         |  GROUP BY item ORDER BY count(*) DESC, item LIMIT 5),
         |rel AS (SELECT DISTINCT user_id, item FROM ev
         |  WHERE event_type = 'purchase'),
         |nrel AS (SELECT user_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |hits AS (SELECT user_id, count(*) AS n_hits,
         |    sum(1e0 / log2(pos + 1)) AS dcg
         |  FROM rel JOIN recs USING (item) GROUP BY 1),
         |idcg AS (SELECT user_id, n_rel, sum(1e0 / log2(k + 1)) AS idcg
         |  FROM nrel, generate_series(1, 5) AS t(k)
         |  WHERE k <= least(5, n_rel) GROUP BY 1, 2),
         |per AS (SELECT i.user_id, i.n_rel,
         |    coalesce(h.n_hits, 0) AS n_hits,
         |    coalesce(h.dcg, 0e0) / i.idcg AS ndcg
         |  FROM idcg i LEFT JOIN hits h ON i.user_id = h.user_id)
         |SELECT count(*) AS n_users,
         |  ${sr4("avg(n_hits / 5e0)")} AS p_at_5,
         |  ${sr4("avg(CAST(n_hits AS DOUBLE) / n_rel)")} AS r_at_5,
         |  ${sr4("avg(ndcg)")} AS ndcg_at_5
         |FROM per""".stripMargin,
    "q68_tfidf_terms" ->
      s"""WITH words AS (SELECT doc_id, w
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |        FROM documents) WHERE w <> ''),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
         |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT doc_id, w,
         |    tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
         |  FROM tf JOIN df USING (w) CROSS JOIN n)
         |SELECT doc_id, w AS top_term, ${sr4("score")} AS score FROM (
         |  SELECT doc_id, w, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, w) AS rn
         |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
