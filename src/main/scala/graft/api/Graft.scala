package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reusable operator surface: every workhorse shape the canned queries
  * in `graft.operators` use, exposed as generic functions over ANY
  * DataFrame with the right columns — so a user brings their own tables,
  * not this corpus. Each function documents the plan it produces and why
  * that plan survives a 100 TB input.
  *
  * The corpus keys call these facades, so the DuckDB oracle checks each
  * one through its key — e.g. asofJoin (q17), dedupFirst (q44),
  * chunkOverlap (q46), cosineTopK (q71), qualityScore (q79), ivfTopK
  * (q85), packSequences (q96), bm25Rank (q100), quantizeInt (q102),
  * rpLshBucket (q103), decontaminate (q106), cooccurrencePmiOnSupport
  * (q107), nextTransitions (q108), tokenBudgetFill (q109), profile (q112),
  * rollingDistinct (q121), equiDepthBuckets (q128), spearmanOnSupport
  * (q210), mannWhitneyOnSupport (q211), lorenzOnSupport (q224).
  * GraftApiSpec and FacadeLawSpec check the facades on other inputs.
  */
object Graft {

  /** Top-k rows per group. Plan: one shuffle on the group keys + in-memory
    * per-group heap via `WindowGroupLimit` (Spark pushes the `<= k` filter
    * into the window sort) — no global sort, no collect. `orderBy` must be
    * a total order for a deterministic result. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
                   k: Int, rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Hot-key cap — the skew mitigation for per-key plans, as API (r13).
    * Keeps at most `n` rows per `keys` group, chosen by `orderBy`, which
    * MUST be content-stable (a hash of the row's id, or event time +
    * unique id — never a partition-order artifact), so every rerun,
    * repartition and engine keeps the same rows.
    *
    * Use case: the bot/test-account shape every 100 TB event log contains
    * — SCALING.md's hot-key experiment measured ONE user holding 10% of
    * all events pushing q115's 3-window chain to 2.46x the uniform corpus
    * at x1000 (the hot key's rows serialize into one O(h log h) sort
    * task). Capping per-user rows before the window chain bounds that
    * task at O(n log n) regardless of the key's true density.
    *
    * Plan: row_number + `<= n` filter, which Spark rewrites to
    * `WindowGroupLimit` — and the PARTIAL mode runs map-side, so a hot
    * key's rows are cut to n per input partition BEFORE the shuffle:
    * the mitigation acts where the skew originates, not after one task
    * has already absorbed the key. No global sort, no collect. */
  def capPerKey(df: DataFrame, keys: Seq[String], n: Int,
                orderBy: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "capPerKey needs key columns")
    require(n >= 1, s"n must be >= 1, got $n")
    // collision-free helper name: withColumn REPLACES an existing column of
    // the same name, so a fixed "__cap_rn" would silently DROP a caller's
    // column of that name at the end (r13 ADVICE)
    val rn = Iterator.from(0)
      .map(i => if (i == 0) "__cap_rn" else s"__cap_rn$i")
      .find(c => !df.columns.contains(c)).get
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= n).drop(rn)
  }

  /** Per-key TOP-M contributor cap with WHOLE-TIE-GROUP admission: keep
    * each key's rows whose `score` is at or above that key's M-th highest
    * DISTINCT-row score, admitting the entire boundary tie group (so both
    * a Spark plan and a SQL twin admit IDENTICAL sets with no tiebreak
    * column; overshoot is the boundary tie-group size). Unlike
    * [[topKPerGroup]] this never ranks the raw rows: the threshold is
    * computed on the (keys × score-support) grain — tiny when scores are
    * rounded to a grid — then joined back, so the fact table crosses ONE
    * window over supports, not a row_number over every row. The regime is
    * MANY keys (a catalog) with a bounded per-key support: the threshold
    * side is key-proportional and carries NO broadcast hint (auto-
    * broadcast/AQE decides; a forced broadcast would grow with the
    * catalog). NULL keys form their own group (null-safe join), matching
    * `Window.partitionBy`. Used by q64 to bound the user-pair fan-out at
    * catalog × M² on any corpus. */
  def perKeyTopContributors(df: DataFrame, keyCols: Seq[String],
                            score: Column, m: Int): DataFrame = {
    require(keyCols.nonEmpty, "perKeyTopContributors needs key columns")
    require(m >= 1, s"m must be >= 1, got $m")
    val kc = keyCols.map(col)
    val sup = df.groupBy(kc :+ score.as("__sc"): _*)
      .agg(count(lit(1)).as("__t"))
    val w = Window.partitionBy(kc: _*).orderBy(col("__sc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = sup.withColumn("__tc", sum("__t").over(w))
      .filter(col("__tc") - col("__t") < m)
      .groupBy(kc: _*).agg(min("__sc").as("__thr"))
      .select(keyCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__tk$i") } :+ col("__thr"): _*)
    val cond = keyCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__tk$i") }.reduce(_ && _)
    df.join(thr, cond).filter(score >= col("__thr"))
      .drop("__thr" +: keyCols.indices.map(i => s"__tk$i"): _*)
  }

  /** As-of join: for each left row, the single latest right row with
    * `rightTs` strictly before (or at, when `strict=false`) the left row's
    * `leftTs`, matched on `keys` (right rows with a null key or timestamp
    * never match, as in an equi join). Every left row is kept with all its
    * columns; the match arrives as `asof_<rightTs>` and `asof_<payload>`,
    * null when nothing qualifies.
    *
    * Plan: the sort-based LINEAR as-of (q17) — union the two streams per
    * key, one per-key time-ordered ROWS window, and each left row reads
    * the running max of struct(rightTs, payload...) over the right rows
    * seen so far: |left| + |right| rows through one shuffle and sort. A
    * theta join would fan every left row out to EVERY earlier right row
    * of its key (per-key quadratic) before picking a winner. The sort key
    * is (timestamp, tag), with right rows tagged AFTER left rows at the
    * same instant when `strict` (an exact-instant match never qualifies)
    * and BEFORE them otherwise; only right rows feed the max, so the
    * order among same-instant left peers cannot move a result. The
    * union widens the two timestamp types as a comparison would (a DATE
    * against a TIMESTAMP_NTZ compares at midnight). Ties on `rightTs`
    * break by the payload column order. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               strict: Boolean = true): DataFrame = {
    val (lTag, rTag) = if (strict) (0, 1) else (1, 0)
    // both sides shuffle as (keys, t, tag, left's other columns, picked
    // columns), each carrying the other side's columns as typed nulls
    val rest = left.schema.fields.filterNot(f => keys.contains(f.name))
    val picked = (rightTs +: payload).zipWithIndex
    val l = left.select(keys.map(col) ++
      Seq(col(leftTs).as("__asof_t"), lit(lTag).as("__asof_tag")) ++
      rest.map(f => col(f.name)) ++ picked.map { case (c, i) =>
        lit(null).cast(right.schema(c).dataType).as(s"__asof_$i") }: _*)
    val r = right.filter((keys :+ rightTs).map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) ++
        Seq(col(rightTs).as("__asof_t"), lit(rTag).as("__asof_tag")) ++
        rest.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        picked.map { case (c, i) => col(c).as(s"__asof_$i") }: _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__asof_t"), col("__asof_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val best = max(when(col("__asof_tag") === rTag, struct(picked.map {
      case (c, i) => col(s"__asof_$i").as(c) }: _*))).over(w)
    l.union(r)
      .withColumn("__asof_r", best)
      .filter(col("__asof_tag") === lTag)
      .select(left.columns.map(col) ++ picked.map { case (c, _) =>
        col("__asof_r").getField(c).as(s"asof_$c") }: _*)
  }

  /** Sessionization: assign each row a per-entity session id, where a gap
    * greater than `gap` (in `tsCol`'s own units — epoch numerics expected)
    * starts a new session. `tieBreak` totalizes the in-entity order for
    * equal timestamps. Plan: one shuffle on the entity key, two stacked
    * windows over the same partitioning (lag → running count), no second
    * exchange. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gap: Long,
                 tieBreak: Seq[String] = Nil,
                 sessionCol: String = "session_id"): DataFrame = {
    val order = (tsCol +: tieBreak).map(col)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__new_sess",
        when(lag(col(tsCol), 1).over(w).isNull ||
          (col(tsCol) - lag(col(tsCol), 1).over(w)) > lit(gap), 1L).otherwise(0L))
      .withColumn(sessionCol, sum("__new_sess").over(wc))
      .drop("__new_sess")
  }

  /** Keyed exact dedup keeping the FIRST row per key under `orderBy` — the
    * deterministic replacement for `dropDuplicates`, whose row choice
    * depends on partitioning. One shuffle on the keys. */
  def dedupFirst(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame =
    topKPerGroup(df, keys, orderBy, 1, "__dedup_rn").drop("__dedup_rn")

  /** Latest-wins merge (the batch CDC/upsert shape): combine the base table
    * with a change set carrying the same schema, keeping per key the single
    * newest row by `versionBy` (ties broken by the remaining `tieBreak`
    * columns — make the order total for determinism). One shuffle on the
    * keys; at 100 TB pair it with bucketed storage on the same keys so the
    * merge joins co-located (writeBucketed). */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
                   versionBy: Column, tieBreak: Seq[Column] = Nil): DataFrame =
    dedupFirst(base.unionByName(changes), keys,
      (versionBy.desc +: tieBreak.map(_.desc)))

  /** Trailing-window exact distinct counts (the DAU/WAU/MAU primitive) by
    * CONTRIBUTION EXPLODE: no engine has a windowed `count(distinct)`, and
    * the scalable exact plan is to dedup `(idCol, bucketCol)` once (the
    * only fact-scale shuffle), explode each observation to the ≤`window`
    * consecutive buckets it contributes to, and distinct-count per target
    * bucket — volume is `window`×|id-buckets|, never |buckets|² rescans.
    * `bucketCol` must be integer-valued consecutive buckets (epoch days,
    * hours…) or a DATE (days). Returns `(bucketCol, n_distinct,
    * n_bucket)` — the trailing-window count and the bucket's own distinct
    * count (DAU next to WAU) — for every OBSERVED bucket: the join with
    * the per-bucket counts clips the spilled-over tail and leaves out
    * buckets no row falls in. The first `window−1` buckets carry a
    * partial trailing window by construction. At extreme cardinality use
    * per-bucket HLL sketches + trailing union instead. */
  def rollingDistinct(df: DataFrame, idCol: String, bucketCol: String,
                      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ob = df.select(col(idCol), col(bucketCol)).distinct()
    val trailing = ob.withColumn("__t", explode(expr(
        s"sequence($bucketCol, $bucketCol + ${window - 1})")))
      .groupBy("__t").agg(countDistinct(col(idCol)).as("n_distinct"))
    ob.groupBy(bucketCol).agg(countDistinct(col(idCol)).as("n_bucket"))
      .join(trailing, col(bucketCol) === col("__t"))
      .select(col(bucketCol), col("n_distinct"), col("n_bucket"))
  }

  /** Equi-depth bucket assignment: `nBuckets` near-equal-count buckets via
    * ONE exact `percentile` aggregation (a one-row broadcast) and a
    * row-local comparison count against the boundary array — never a
    * global `ntile` window, which funnels the whole input through a single
    * partition. Appends `bucketCol` ∈ [1, nBuckets]. At extreme scale swap
    * the exact percentile for the mergeable `approx_percentile`. */
  def equiDepthBuckets(df: DataFrame, valueCol: String, nBuckets: Int,
                       bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val b = df.agg(
      expr(s"percentile($valueCol, array(${cutFractions(nBuckets)}))").as("__qs"))
    df.crossJoin(broadcast(b))
      .withColumn(bucketCol,
        (lit(1) + size(expr(s"filter(__qs, q -> $valueCol > q)"))).cast("long"))
      .drop("__qs")
  }

  /** EXACT `ntile(buckets)` over `(keyCol asc|desc, tieCol)` rebuilt
    * without a global single-task window: the 1-based row number is
    * (count of strictly smaller keys, from a [[prefixSum]] range-block
    * scan over `keyCol`'s value SUPPORT) + (rank by `tieCol` within the
    * key's tie group — a window partitioned by key value, parallel in
    * the support), then the closed-form ntile split (the first
    * n mod buckets buckets hold ⌈n/buckets⌉ rows, the rest ⌊n/buckets⌋).
    * Bit-identical to `ntile(buckets).over(Window.orderBy(key, tie))` —
    * asserted in GraftApiSpec — but parallel in support values × blocks
    * instead of ONE task holding every row. Unlike [[equiDepthBuckets]]
    * (boundary-value buckets, ties share a bucket), this reproduces
    * ntile's row-number split exactly, ties crossing bucket boundaries
    * by `tieCol` order. `keyCol` must be numeric (desc is implemented by
    * negation); `(keyCol, tieCol)` must be a total order for a
    * deterministic result. */
  def ntileExact(df: DataFrame, buckets: Int, keyCol: String, asc: Boolean,
                 tieCol: String, out: String): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val b = buckets
    val keyed = df.withColumn("__k",
      (if (asc) col(keyCol) else -col(keyCol)).cast("double"))
    val sup = keyed.groupBy("__k").agg(count(lit(1)).as("__c"))
    // the total row count rides the SAME eager job as the block bounds
    // (n = Σ __c over the support — see ksStatisticOnSupport): the old
    // lazy `n1` frame was one more full count pass over the input, and
    // its broadcast crossJoin a stage round
    val row = sup.agg(blockCuts(sup, "__k")._2.as("__bnds"),
      sum("__c").as("__n")).head()
    val bnds = cutsAt(row, 0)
    val nTot = if (row.isNullAt(1)) null else Long.box(row.getLong(1))
    val below = prefixSumWith(sup, "__k", Seq("__c"), "_cum", bnds)
      .select(col("__k"), (col("__c_cum") - col("__c")).as("__below"))
    val wTie = Window.partitionBy("__k").orderBy(tieCol)
    keyed.join(below, "__k")
      .withColumn("__rn", col("__below") + row_number().over(wTie))
      .withColumn("__n", lit(nTot).cast("long"))
      .withColumn(out, expr(
        s"""CASE WHEN __rn <= (__n div $b + 1) * (__n % $b)
           |  THEN (__rn + (__n div $b + 1) - 1) div (__n div $b + 1)
           |  ELSE (__n % $b) +
           |    ((__rn - (__n div $b + 1) * (__n % $b)) + (__n div $b) - 1)
           |      div (__n div $b)
           |END""".stripMargin).cast("long"))
      .drop("__k", "__below", "__rn", "__n")
  }

  /** Grouped EXACT ntile — `ntile(b).over(Window.partitionBy(groups)
    * .orderBy(key, tie))` rebuilt without one-task-per-group sorts, and
    * the one-pass form for cutting SEVERAL INDEPENDENT axes at once
    * (unpivot the axes into a group column first; each group gets its own
    * complete, independent ntile split over its own row count). Same
    * construction as [[ntileExact]] with every stage group-aware:
    * per-(group, key value) counts, count-below via [[groupedPrefixSum]]
    * (parallel in groups × blocks), a tie rank windowed by (group, key
    * value) — support-sized partitions — then the closed-form split
    * against the group's row count. Bit-identical to the window form
    * (asserted in GraftApiSpec, including a NULL group row — group joins
    * are null-safe like groupedPrefixSum's). `keyCol` must be numeric
    * (desc via negation); (groups, keyCol, tieCol) a total order.
    *
    * One-pass rationale (the q114 lesson): chaining [[ntileExact]] per
    * axis re-evaluates the shared input O(5^axes) times without a
    * materialization barrier, and even cached it runs one full rank
    * machine per axis; unpivoting to (axis, value) rows runs ONE support
    * build, ONE grouped prefix scan and ONE tie window for all axes
    * (measured on the RFM triple cut: 13.4 s chained → 4.3 s cached
    * per-axis → ~1.5 s one-pass at sf0.1). */
  def ntileExactGrouped(df: DataFrame, buckets: Int, groupCols: Seq[String],
                        keyCol: String, asc: Boolean, tieCol: String,
                        out: String): DataFrame =
    ntileExactGroupedOnSupport(df,
      ntileGroupedSupport(df, groupCols, keyCol, asc),
      buckets, groupCols, keyCol, asc, tieCol, out)

  /** The per-(group, negated-if-desc key value) count support
    * [[ntileExactGrouped]] ranks — exposed for caller-side memoization
    * (the ksSupport pattern): the grouped prefix scan references it three
    * times (eager bounds pass, blocked rows, block totals) plus the
    * group-count aggregation, AQE never deduplicates those references
    * above a cached relation (see collectBounds), and this aggregation is
    * the rank machinery's hottest operator (a double-valued grouping key
    * defeats the codegen fast hash map — measured avgHashProbe=320 /
    * 276 MB peak per build on q114's support). Schema:
    * (groups..., __k, __c). */
  def ntileGroupedSupport(df: DataFrame, groupCols: Seq[String],
      keyCol: String, asc: Boolean): DataFrame = {
    val keyed = df.withColumn("__k",
      (if (asc) col(keyCol) else -col(keyCol)).cast("double"))
    keyed.groupBy(groupCols.map(col) :+ col("__k"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** [[ntileExactGrouped]] over a prebuilt [[ntileGroupedSupport]]. The
    * per-group row counts `ns` now aggregate the SUPPORT (Σ __c — exact
    * longs, same totals) instead of re-counting the raw input, removing
    * one full input pass. */
  def ntileExactGroupedOnSupport(df: DataFrame, sup: DataFrame, buckets: Int,
                                 groupCols: Seq[String], keyCol: String,
                                 asc: Boolean, tieCol: String,
                                 out: String): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(groupCols.nonEmpty, "ntileExactGrouped needs group columns " +
      "(use ntileExact for one global split)")
    val b = buckets
    val gc = groupCols.map(col)
    val keyed = df.withColumn("__k",
      (if (asc) col(keyCol) else -col(keyCol)).cast("double"))
    val below = groupedPrefixSum(sup, groupCols, "__k", Seq("__c"))
      .select(groupCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"__bg$i") } :+ col("__k").as("__bk") :+
        (col("__c_cum") - col("__c")).as("__below"): _*)
    val ns = sup.groupBy(gc: _*).agg(sum("__c").as("__n"))
      .select(groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__ng$i") } :+ col("__n"): _*)
    // null-safe group joins: a NULL group key is a group of its own,
    // exactly as Window.partitionBy treats it (the groupedPrefixSum rule)
    val bCond = (groupCols.indices.map(i => col(s"__bg$i") <=> col(groupCols(i))) :+
      (col("__bk") === col("__k"))).reduce(_ && _)
    val nCond = groupCols.indices.map(i => col(s"__ng$i") <=> col(groupCols(i)))
      .reduce(_ && _)
    val wTie = Window.partitionBy(gc :+ col("__k"): _*).orderBy(tieCol)
    // below is SUPPORT-grain (can approach |rows| for continuous keys) —
    // no broadcast hint, the planner/AQE picks from stats; ns is
    // groups-sized and broadcasts safely
    keyed.join(below, bCond)
      .withColumn("__rn", col("__below") + row_number().over(wTie))
      .join(broadcast(ns), nCond)
      .withColumn(out, expr(
        s"""CASE WHEN __rn <= (__n div $b + 1) * (__n % $b)
           |  THEN (__rn + (__n div $b + 1) - 1) div (__n div $b + 1)
           |  ELSE (__n % $b) +
           |    ((__rn - (__n div $b + 1) * (__n % $b)) + (__n div $b) - 1)
           |      div (__n div $b)
           |END""".stripMargin).cast("long"))
      .drop(Seq("__k", "__bk", "__below", "__rn", "__n") ++
        groupCols.indices.flatMap(i => Seq(s"__bg$i", s"__ng$i")): _*)
  }

  /** Exact-k weighted sampling WITHOUT replacement (Efraimidis–Spirakis),
    * fully reproducible: each row draws u ∈ (0, 1] from sha256(id) — no
    * RNG state, same rows win on any cluster/partitioning/rerun — and the
    * k rows with the largest ln(u)/weight keys form a weighted sample
    * without replacement. Complements [[hashSample]] (Bernoulli,
    * random-size) with a FIXED-size draw. Keys are pinned to 10 dp before
    * ranking (id tiebreak) so a last-ulp `ln`/`pow` difference between
    * math libraries can never reorder the boundary. Weights must be > 0.
    * Plan: row-local key computation + one top-k (TakeOrderedAndProject) —
    * no shuffle before the final k rows. */
  def weightedSampleK(df: DataFrame, id: Column, weight: Column,
                      k: Int, keyCol: String = "es_key"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (conv(substring(sha2(id.cast("string"), 256), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(4294967296.0)
    // nullif: a zero-weight row has no sampling mass — a null key sorts
    // last in BOTH engines (never sampled while k positive-weight rows
    // exist), where a raw /0 would be null here but -inf/NaN in DuckDB
    // (and NaN sorts FIRST on desc there)
    df.withColumn(keyCol, graft.Tables.rnd(
        log(u) / nullif(weight.cast("double"), lit(0.0)), 10))
      .orderBy(col(keyCol).desc, id)
      .limit(k)
  }

  /** SCD type-2 validity intervals from a change log: per `keys` entity,
    * each observation becomes a dimension row valid from its own timestamp
    * until the NEXT observation's (`valid_to` null ⇔ `is_current`) — the
    * slowly-changing-dimension snapshot construction. Pair with
    * [[asofJoin]] on `(keys, valid_from)` to enrich facts as-of event time.
    * Include `tieBreak` columns to totalize equal timestamps. Plan: one
    * shuffle on the entity keys + one lead window — linear at any scale. */
  def validityIntervals(df: DataFrame, keys: Seq[String], tsCol: String,
                        tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)
    df.withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Content-stable bucket in [0, buckets) from any id column: the first 8
    * hex chars of sha256(id) — identical on every engine, partitioning and
    * rerun. The primitive behind reproducible sampling and A/B splits. */
  def hashBucket(id: Column, buckets: Int = 100): Column =
    conv(substring(sha2(id.cast("string"), 256), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Reproducible (stratified) sampling: keep rows whose hash bucket falls
    * under `rate` (a per-row Column in [0,100], so strata can carry
    * different rates). No RNG state — the same rows are kept on any
    * cluster, any partitioning, any rerun. */
  def hashSample(df: DataFrame, id: Column, rate: Column): DataFrame =
    df.filter(hashBucket(id) < rate)

  /** Sequence packing: assign rows (ordered by `orderCol` within
    * `groupCol`) to fixed `budget`-token chunks by running token count —
    * the streaming-greedy packing used to build training context windows.
    * One window per group partition, deterministic chunk ids. Appends
    * `chunkCol` and the inclusive running count `cum_tokens`. */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokenCol: String, budget: Long,
                    chunkCol: String = "chunk_id"): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .withColumn(chunkCol,
        floor((col("cum_tokens") - col(tokenCol)) / lit(budget)).cast("long"))
  }

  /** Benchmark decontamination: rows of `corpus` sharing at least one
    * `keyCol` value (shingle, n-gram hash, url, …) with `probe` — both
    * carrying `idCol` — with the count of distinct shared keys
    * (`n_shared`) and of distinct probe ids they touch (`n_bench`) per
    * corpus id. The probe side is the eval suite — genuinely
    * dimension-sized — so it broadcasts as is (both counts are distinct,
    * so duplicate probe rows cost only broadcast bytes) and the check is a
    * map-side pass over the corpus key stream (the q106 shape). */
  def decontaminate(corpus: DataFrame, probe: DataFrame,
                    keyCol: String, idCol: String): DataFrame =
    corpus.join(broadcast(probe.select(col(idCol).as("__probe_id"), col(keyCol))),
        keyCol)
      .groupBy(idCol)
      .agg(countDistinct(col(keyCol)).as("n_shared"),
        countDistinct(col("__probe_id")).as("n_bench"))

  /** Greedy token-budget fill: keep rows (ordered by `orderBy` within
    * `groupCol`) while the tokens BEFORE each row stay under `budget` — the
    * per-domain mixture-sampling primitive (q109). Order by a
    * content-stable hash (plus an id tiebreak) for a reproducible shuffle.
    * Admits the one row that crosses the budget line, like
    * [[packSequences]], and appends the running count `cum_tokens`. */
  def tokenBudgetFill(df: DataFrame, groupCol: String, orderBy: Seq[Column],
                      tokenCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .filter(col("cum_tokens") - col(tokenCol) < budget)
  }

  /** Calendar gap-fill (dense resample): given an already-aggregated
    * relation keyed by `keyCols` + `timeCol`, emit one row for EVERY
    * (key, time step) cell between the observed min and max of `timeCol`,
    * filling absent cells from `fills`. The time spine is a single
    * one-row aggregate exploded by `sequence` — calendar-sized, so it
    * BROADCASTS against the (potentially fact-sized) key set, which stays
    * partitioned; the fill join then shuffles on (keys, time) only once.
    * `step` is an interval expression (e.g. `expr("interval 1 hour")`);
    * works for timestamp and date spines alike. The input must already be
    * aggregated to one row per (keys, time) — gapFill densifies, it does
    * not combine duplicates. */
  def gapFill(df: DataFrame, keyCols: Seq[String], timeCol: String,
              step: Column, fills: Map[String, Column]): DataFrame = {
    val span = df.agg(min(col(timeCol)).as("__t0"), max(col(timeCol)).as("__t1"))
    val spine = span.select(explode(sequence(col("__t0"), col("__t1"), step)).as(timeCol))
    val dense = df.select(keyCols.map(col): _*).distinct().crossJoin(broadcast(spine))
    val out = dense.join(df, keyCols :+ timeCol, "left")
    fills.foldLeft(out) { case (acc, (c, fill)) =>
      acc.withColumn(c, coalesce(col(c), fill)) }
  }

  /** Per-key exponentially-weighted moving average over an ordered series:
    * ewma₁ = x₁, ewmaᵢ = (1−α)·ewmaᵢ₋₁ + α·xᵢ, returning the final value
    * per key plus the series length. The recurrence is inherently
    * sequential, so each key's series is collected to ONE row and folded
    * with `aggregate` — correct at scale because the fold input is the
    * PRE-AGGREGATED series (calendar-sized per key: |days| or |hours|),
    * never the fact rows; the fact-scale work is the caller's groupBy that
    * built the series. Cross-engine determinism: every fold step is pinned
    * to 10 dp with the Tables.rnd floor formula (the q113 trick), and the
    * decay is written `(1 − α)` so both engines derive it from the same
    * literal — DuckDB's `list_reduce` (accumulator-first, first element as
    * init) reproduces the fold bit-for-bit. */
  def ewma(df: DataFrame, keyCols: Seq[String], orderCol: String,
           valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    // plain-decimal form of the (round-trip-exact) shortest repr — a
    // scientific-notation toString like 1.0E-4 would not splice into SQL
    val aStr = new java.math.BigDecimal(alpha.toString).toPlainString
    df.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).as("o"), col(valCol).cast("double").as("v")))).as("__xs"))
      .withColumn("n_points", size(col("__xs")).cast("long"))
      .withColumn("ewma", expr(
        s"""aggregate(slice(__xs, 2, greatest(size(__xs) - 1, 0)),
           |  element_at(__xs, 1).v,
           |  (acc, x) -> floor((acc * (1e0 - ${aStr}e0) + ${aStr}e0 * x.v) * 1e10 + 0.5e0) / 1e10)""".stripMargin))
      .drop("__xs")
  }

  /** Per-key Holt double-exponential (level + trend) smoothing over an
    * ordered series: l₁ = x₁, b₁ = 0, then
    * lᵢ = α·xᵢ + (1−α)(lᵢ₋₁+bᵢ₋₁) and bᵢ = β(lᵢ−lᵢ₋₁) + (1−β)bᵢ₋₁,
    * returning the final (level, trend) per key plus a one-step forecast
    * level+trend. The same collect-then-fold shape as [[ewma]] (the fold
    * input is the pre-aggregated calendar-sized series, never fact rows);
    * the 2-element state rides an ARRAY accumulator. Cross-engine
    * determinism: both state components are pinned to 10 dp at every
    * step — the β-update reuses the PINNED new level (the pinned
    * expression is repeated verbatim), so DuckDB's `list_reduce` over a
    * 2-element list replays the identical IEEE operations. */
  def holt(df: DataFrame, keyCols: Seq[String], orderCol: String,
           valCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta must be in (0, 1], got $beta")
    val a = new java.math.BigDecimal(alpha.toString).toPlainString
    val b = new java.math.BigDecimal(beta.toString).toPlainString
    // nl must be one self-contained SQL expression (no lets in lambdas):
    // the pinned new-level expression is spliced twice into the β-update.
    val nl = s"floor((${a}e0 * x.v + (1e0 - ${a}e0) * " +
      "(element_at(acc, 1) + element_at(acc, 2))) * 1e10 + 0.5e0) / 1e10"
    df.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).as("o"), col(valCol).cast("double").as("v")))).as("__xs"))
      .withColumn("n_points", size(col("__xs")).cast("long"))
      .withColumn("__st", expr(
        s"""aggregate(slice(__xs, 2, greatest(size(__xs) - 1, 0)),
           |  array(CAST(element_at(__xs, 1).v AS DOUBLE), CAST(0e0 AS DOUBLE)),
           |  (acc, x) -> array(
           |    $nl,
           |    floor((${b}e0 * (($nl) - element_at(acc, 1)) +
           |      (1e0 - ${b}e0) * element_at(acc, 2)) * 1e10 + 0.5e0) / 1e10))""".stripMargin))
      .withColumn("level", expr("element_at(__st, 1)"))
      .withColumn("trend", expr("element_at(__st, 2)"))
      .withColumn("forecast", col("level") + col("trend"))
      .drop("__xs", "__st")
  }

  /** Additive Holt–Winters (triple exponential smoothing) per group: the
    * [[holt]] fold extended with a rotating `period`-slot seasonal queue.
    * State = [level, trend, s₁..s_p] where s₁ is the seasonal due NEXT;
    * per step: l′ = α(y − s₁) + (1−α)(l + b), b′ = β(l′ − l) + (1−β)b,
    * s′ = γ(y − l′) + (1−γ)s₁, then the queue rotates (s′ appended).
    * Initialization convention (documented, not estimated): level = y₀,
    * trend = 0, seasonals = 0 — the first season's residuals charge the
    * seasonal states directly, standard for streaming-style HW. Returns
    * (keys..., n_points, level, trend, s_next, forecast = l + b + s_next).
    *
    * Determinism: the [[holt]] discipline — every state component pins to
    * 10 dp per step inside the fold, so a DuckDB list_reduce twin
    * reproduces the fixpoint bit-for-bit; pin `valCol` to a grid first.
    * Scale: one shuffle to group grain; the fold is a per-group
    * sequential recurrence (inherently ordered — state is 2 + period
    * doubles, the operator's semantics; slice histories first when
    * groups are unbounded). */
  def holtWinters(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valCol: String, alpha: Double, beta: Double, gamma: Double,
                  period: Int = 7): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta must be in (0, 1], got $beta")
    require(gamma > 0 && gamma <= 1, s"gamma must be in (0, 1], got $gamma")
    require(period >= 2, s"period must be >= 2, got $period")
    val a = new java.math.BigDecimal(alpha.toString).toPlainString
    val b = new java.math.BigDecimal(beta.toString).toPlainString
    val g = new java.math.BigDecimal(gamma.toString).toPlainString
    // nl is spliced (as in holt) into the trend and seasonal updates —
    // one self-contained pinned expression, no lets in lambdas
    val nl = s"floor((${a}e0 * (x.v - element_at(acc, 3)) + (1e0 - ${a}e0) * " +
      "(element_at(acc, 1) + element_at(acc, 2))) * 1e10 + 0.5e0) / 1e10"
    val nb = s"floor((${b}e0 * (($nl) - element_at(acc, 1)) + " +
      s"(1e0 - ${b}e0) * element_at(acc, 2)) * 1e10 + 0.5e0) / 1e10"
    val ns = s"floor((${g}e0 * (x.v - ($nl)) + " +
      s"(1e0 - ${g}e0) * element_at(acc, 3)) * 1e10 + 0.5e0) / 1e10"
    val zeros = Seq.fill(period)("CAST(0e0 AS DOUBLE)").mkString(", ")
    df.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).as("o"), col(valCol).cast("double").as("v")))).as("__xs"))
      .withColumn("n_points", size(col("__xs")).cast("long"))
      .withColumn("__st", expr(
        s"""aggregate(slice(__xs, 2, greatest(size(__xs) - 1, 0)),
           |  array(CAST(element_at(__xs, 1).v AS DOUBLE), CAST(0e0 AS DOUBLE), $zeros),
           |  (acc, x) -> concat(array($nl, $nb),
           |    slice(acc, 4, ${period - 1}), array($ns)))""".stripMargin))
      .withColumn("level", expr("element_at(__st, 1)"))
      .withColumn("trend", expr("element_at(__st, 2)"))
      .withColumn("s_next", expr("element_at(__st, 3)"))
      .withColumn("forecast", col("level") + col("trend") + col("s_next"))
      .drop("__xs", "__st")
  }

  /** Referential-integrity audit of one foreign-key edge: child rows,
    * orphaned child rows (no matching parent key), distinct parent keys,
    * and unreferenced parent keys — the data-quality gate run before any
    * join-dependent pipeline. One row out. Plan: aggregate the child to
    * its key grain (one fact-scale shuffle with map-side combine), distinct
    * the parent keys, and FULL-OUTER join the two grains — both sides
    * arrive hash-partitioned on the key from their own aggregation, so the
    * join itself adds no exchange, and all four counts fall out of one
    * single-row aggregation over the joined grain. Each edge costs exactly
    * one pass and one shuffle per side regardless of scale (the earlier
    * two-outer-join form scanned and shuffled the child twice). Null child
    * keys count as child rows and as orphans, null parent keys as parents
    * and as unreferenced — a SQL join never matches null to null, which is
    * precisely the audit semantics. */
  def refIntegrity(child: DataFrame, childKey: String,
                   parent: DataFrame, parentKey: String): DataFrame = {
    val cg = child.select(col(childKey).as("__k"))
      .groupBy("__k").agg(count(lit(1)).as("__cnt"))
    val pg = parent.select(col(parentKey).as("__k")).distinct()
      .withColumn("__p", lit(1))
    cg.join(pg, Seq("__k"), "full_outer")
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("n_child"),
        coalesce(sum(when(col("__p").isNull, col("__cnt")).otherwise(lit(0L))), lit(0L)).as("n_orphan"),
        count(col("__p")).as("n_parent"),
        count(when(col("__p").isNotNull && col("__cnt").isNull, 1)).as("n_unref_parent"))
  }

  /** Item co-occurrence PMI over a (user, item) interaction relation:
    * canonical pairs (item_a < item_b) with their co-count and
    * ln(c_ab·N / (c_a·c_b)). Cap each user's item list BEFORE calling (see
    * `Tables.cappedRatings`) — the self-join fans out per-user degree².
    * Marginals stay un-hinted (vocabulary-sized; AQE decides), only the
    * one-row user count broadcasts (the q107 shape). */
  def cooccurrencePmi(df: DataFrame, userCol: String, itemCol: String): DataFrame = {
    val r = df.select(col(userCol).as("__u"), col(itemCol).as("__i")).distinct()
    val pairs = r.select(col("__u"), col("__i").as("item_a"))
      .join(r.select(col("__u"), col("__i").as("item_b")), "__u")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
    cooccurrencePmiOnSupport(pairs, r, "__u", "__i")
  }

  /** [[cooccurrencePmi]] over prebuilt pair co-counts `pairs` (item_a,
    * item_b, c_ab) of the DUPLICATE-FREE (user, item) relation `df` —
    * exposed so a caller whose pair explosion is memoized (q107 reads
    * `Tables.pairSupport`) pays it once. */
  def cooccurrencePmiOnSupport(pairs: DataFrame, df: DataFrame,
                               userCol: String, itemCol: String): DataFrame = {
    val n = df.agg(countDistinct(col(userCol)).as("__n"))
    val ci = df.groupBy(itemCol).agg(count(lit(1)).as("__c"))
    pairs
      .join(ci.select(col(itemCol).as("item_a"), col("__c").as("__ca")), "item_a")
      .join(ci.select(col(itemCol).as("item_b"), col("__c").as("__cb")), "item_b")
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("c_ab"),
        log((col("c_ab") * col("__n")).cast("double") /
          (col("__ca") * col("__cb")).cast("double")).as("pmi"))
  }

  /** Bloom-filter semi-join prefilter: build a bloom filter over `dim`'s
    * (long) key and keep only `fact` rows that MIGHT match, before the
    * real join — the explicit form of the runtime pruning Catalyst's
    * InjectRuntimeFilter applies (demonstrated in PlanRegressionSpec),
    * for when the build side is known selective but the optimizer's
    * thresholds or join shape keep the automatic filter out (e.g. a
    * pre-shuffle stage boundary, a UNION fan-in, or a non-equi residual).
    *
    * Guarantees: NO false negatives (every true match survives), ~`fpp`
    * false positives (they're removed by the real join). The
    * results-never-change property holds for the INNER/SEMI equi-joins
    * this prefilter is meant for — it drops fact rows, including
    * null-key rows, so applying it to the PRESERVED side of an outer
    * join (or before an anti join) would remove rows the join must keep.
    * Only scan/shuffle volume changes ahead of inner/semi joins. Sizing:
    * the filter is
    * ~1.2·n·ln(1/fpp)/ln²2 bits — 10⁸ keys at 3% ≈ 90 MB, the same
    * driver+broadcast cost the built-in runtime filter pays; size
    * `expectedItems` to the DISTINCT key count. */
  def bloomPrefilter(fact: DataFrame, factKey: String,
                     dim: DataFrame, dimKey: String,
                     expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    fact.filter(might(col(factKey)))
  }

  /** Blocked fuzzy (entity-resolution) join over a string column: pairs of
    * DISTINCT values within Levenshtein `maxDist`, candidates restricted
    * to equal `blockKey` (an expression over the value column — last
    * token, length band, phonetic code…). Dedupe-before-metric: the
    * expensive string DP runs on the |distinct values| grain and the
    * row-level pair count is recovered exactly as cnt(a)·cnt(b). Returns
    * (name_a, name_b, dist, n_pairs) with name_a < name_b canonical
    * order. Blocking-key selectivity is THE scale knob — Σ block² on the
    * distinct grain; the metric itself is row-local, and the join
    * residual runs the codegen'd banded early-exit predicate
    * [[graft.plans.LevWithin]] (O(k·n) with row-min abort) instead of the
    * full O(n·m) builtin — the exact distance is recomputed only for the
    * few pairs that survive. */
  def blockedFuzzyJoin(df: DataFrame, valueCol: String, blockKey: Column,
                       maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    graft.plans.LevWithin.register(df.sparkSession)
    val names = df.groupBy(valueCol).agg(count(lit(1)).as("__cnt"))
      .withColumn("__blk", blockKey)
    val a = names.select(col(valueCol).as("name_a"),
      col("__cnt").as("__cnt_a"), col("__blk"))
    val b = names.select(col(valueCol).as("name_b"),
      col("__cnt").as("__cnt_b"), col("__blk").as("__blk_b"))
    a.join(b, col("__blk") === col("__blk_b") &&
        col("name_a") < col("name_b") &&
        expr(s"lev_within(name_a, name_b, $maxDist)"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
        (col("__cnt_a") * col("__cnt_b")).as("n_pairs"))
  }

  /** Assign each row a range block id in [0, nBlocks) by comparing
    * `orderCol` against block bounds from ONE mergeable
    * `approx_percentile` aggregation — the deterministic, exchange-free
    * building block of the distributed prefix scans below. Bound placement
    * only affects balance, never results, so the sketch's approximation is
    * harmless. Appends `__blk`. */
  private def rangeBlocks(df: DataFrame, orderCol: String): DataFrame = {
    val bnds = collectBounds(df, orderCol)
    searchBlock(df, orderCol, array(bnds.map(lit): _*), bnds.size)
  }

  /** Evaluate [[rangeBlocks]]' bounds EAGERLY: one approx_percentile job,
    * collected to the driver (n−1 scalars — a shuffle-partition-count-sized
    * array, driver-safe at any scale). Eager, driver-local bounds are the
    * r15 fix for a MEASURED AQE behavior: exchange reuse never fires above
    * a cached relation (measured r15, pinned by PlanRegressionSpec: 0
    * ReusedExchange in every cached-input executed plan — each textually
    * duplicated subtree re-EXECUTES with its own metrics, vs 1 ReusedExchange for the same
    * shape over a raw parquet scan), so the old LAZY one-row bounds frame,
    * referenced by each blocked consumer, re-ran the full input aggregation
    * per reference (q145 at sf0.1: the fact-grain support agg executed 4×
    * in one query). Collected once, the bounds become foldable literals:
    * no crossJoin, no broadcast stage round, one evaluation by
    * construction. Bound VALUES are unchanged (same sketch over the same
    * input) and bound placement never affects results — only balance.
    *
    * The collected bounds are kept in the session's value memo
    * (graft.Tables.value, dropped by Tables.release) under
    * [[boundsKey]]: every re-execution of a prefix-scan key rebuilds a
    * structurally identical input frame, and without the memo each
    * bench/verify iteration re-ran this eager job (~17 keys × 1 job). A
    * semanticHash collision could only hand a scan the WRONG bounds —
    * which affects block balance, never results. Streaming callers
    * (prefixMax in a foreachBatch) see run-1 bounds for later batches:
    * same invariant, balance only. */
  private def collectBounds(df: DataFrame, orderCol: String): Seq[Any] = {
    val (n, cuts) = blockCuts(df, orderCol)
    graft.Tables.value(df.sparkSession, boundsKey(df, orderCol, n))(
      cutsAt(df.agg(cuts.as("__bnds")).head(), 0))
  }

  /** The value-memo key of `df`'s block bounds over `cols` in `n` blocks:
    * the canonicalized plan's semanticHash, the column(s) and n. */
  private def boundsKey(df: DataFrame, cols: String, n: Int): String =
    s"bounds.${planHash(df)}.$cols.$n"

  /** The semanticHash of `df`'s canonicalized analyzed plan: equal for
    * every rebuild of a structurally identical frame, which is what lets
    * a facade memoize a driver-side fact about its input without a
    * corpus to key it by. */
  private def planHash(df: DataFrame): Int =
    df.queryExecution.analyzed.canonicalized.semanticHash()

  /** The n − 1 interior cut fractions of an n-way split as SQL double
    * literals (`0.1e0,0.2e0,…,0.9e0` for n = 10) — the argument of every
    * percentile cut in this object. */
  private def cutFractions(n: Int): String =
    (1 until n).map(i => s"${i.toDouble / n}e0").mkString(",")

  /** The range-block cuts of `valueCol` behind every prefix scan and rank
    * machine: the block count n (one block per shuffle partition, at
    * least 2) and the `approx_percentile` of the n − 1 interior bounds. */
  private def blockCuts(df: DataFrame, valueCol: String): (Int, Column) = {
    val n = math.max(2, df.sparkSession.sessionState.conf.numShufflePartitions)
    (n, expr(s"approx_percentile($valueCol, array(${cutFractions(n)}), 10000)"))
  }

  /** A collected cut array: an empty input's null sketch decodes to no
    * bounds (every row then lands in block 0). */
  private def cutsAt(row: Row, i: Int): Seq[Any] =
    if (row.isNullAt(i)) Seq.empty else row.getSeq[Any](i)

  /** `__blk` = #{q ∈ `bnds` : orderCol > q} via a codegen'd binary search
    * over the SORTED bounds array, replacing the original
    * `size(filter(__bnds, q -> orderCol > q))`: higher-order functions are
    * interpreted per element (measured r14 at sf0.1: the filter() form
    * cost ~13 µs/row — 8–14 s of summed pipeline time per prefix-scan
    * reference on a 594k-row support, the single hottest expression in the
    * rank/prefix family), while this form is log₂(n) `element_at`/CASE
    * steps inside whole-stage codegen (optimization guide §4: prefer
    * codegen-friendly builtins in hot paths). Each step is its own
    * projection column so CollapseProject cannot re-inline the chain into
    * an exponential expression tree, and the step count stays log₂ even at
    * production shuffle-partition counts (2048 partitions → 11 steps vs a
    * 2047-element interpreted filter per row).
    *
    * The predicate p(i) = orderCol > __bnds[i] is monotone non-increasing
    * over the ascending bounds (duplicates included), so the classic
    * power-of-two descent finds max{i : p(i)} exactly — bit-identical to
    * the filter() count, including the edge cases: a NULL orderCol or NULL
    * bounds array fails every comparison and lands in block 0, exactly like
    * the old coalesce(size(filter(...)), 0). `bnds` is the bounds array —
    * a FOLDABLE literal of driver-local bounds in the ungrouped scans, the
    * joined `__bnds` column in the grouped one — and `len` its length; no
    * bounds (an empty input's null sketch) puts every row in block 0. */
  private def searchBlock(df: DataFrame, orderCol: String, bnds: Column,
      len: Int): DataFrame = {
    if (len == 0) return df.withColumn("__blk", lit(0))
    val steps = Iterator.iterate(Integer.highestOneBit(len))(_ / 2)
      .takeWhile(_ >= 1).toSeq
    val withPos = steps.zipWithIndex.foldLeft(df.withColumn("__bs0", lit(0))) {
      case (acc, (step, i)) =>
        val cand = col(s"__bs$i") + lit(step)
        acc.withColumn(s"__bs${i + 1}",
          when(cand <= lit(len) &&
              col(orderCol) > element_at(bnds, cand.cast("int")),
            cand).otherwise(col(s"__bs$i")))
    }
    withPos.withColumn("__blk", col(s"__bs${steps.size}").cast("int"))
      .drop((0 to steps.size).map(i => s"__bs$i"): _*)
  }

  /** Opt-in input validation for the prefix scans: set session conf
    * `spark.graft.validateOrder=true` to eagerly verify `orderCol` is
    * duplicate-free before building the scan. Off by default — the check is
    * a count/countDistinct pass over the input, which a 100 TB caller
    * should not pay silently; but with duplicates and no check the
    * intra-tie placement (and thus results) is block-dependent, so tests
    * and debug runs should turn this on. */
  private def validateDistinctOrder(df: DataFrame, orderCol: String, op: String): Unit =
    if (df.sparkSession.conf.getOption("spark.graft.validateOrder")
          .exists(_.equalsIgnoreCase("true"))) {
      val r = df.agg(count(col(orderCol)).as("n"),
        count_distinct(col(orderCol)).as("d")).head()
      require(r.getLong(0) == r.getLong(1),
        s"$op: orderCol '$orderCol' has duplicates (${r.getLong(0)} rows, " +
          s"${r.getLong(1)} distinct) — group to the order grain first; " +
          "with ties the result is block-placement-dependent")
    }

  /** Distributed running (prefix) sums over a totally-ordered column — the
    * scale-safe replacement for a global `Window.orderBy(...).rowsBetween
    * (unboundedPreceding, currentRow)`, which Spark plans as ONE partition
    * holding the entire input. Classic two-pass prefix scan, declared in
    * DataFrame ops: (1) bucket rows into range blocks ([[rangeBlocks]] —
    * row-local against broadcast bounds), (2) per-block running sums via a
    * PARTITIONED window, (3) per-block totals prefix-combined by the only
    * remaining unpartitioned window — over ≤ `spark.sql.shuffle.partitions`
    * rows, bounded by construction, (4) broadcast the offsets back and add
    * row-locally. Appends `c + suffix` per value column, inclusive of the
    * current row.
    *
    * `orderCol` must be numeric with DISTINCT values (group to the order
    * grain first — the shrink-before-window discipline); with duplicates
    * the intra-tie order would be block-placement-dependent. Determinism:
    * integer/pinned addends regroup exactly under associativity, so block
    * decomposition cannot change results for exact types; float callers
    * keep the same pin discipline a global window would need. */
  def prefixSum(df: DataFrame, orderCol: String, valueCols: Seq[String],
                suffix: String = "_cum"): DataFrame = {
    require(valueCols.nonEmpty, "prefixSum needs at least one value column")
    validateDistinctOrder(df, orderCol, "prefixSum")
    prefixSumWith(df, orderCol, valueCols, suffix,
      collectBounds(df, orderCol))
  }

  /** [[prefixSum]] body over PRE-COLLECTED bounds — the shared entry for
    * facades that fold their own totals into the bounds action
    * ([[ksStatistic]], [[ntileExact]]) so the input pays ONE
    * eager aggregation pass instead of one per derived statistic. */
  private def prefixSumWith(df: DataFrame, orderCol: String,
      valueCols: Seq[String], suffix: String, bnds: Seq[Any]): DataFrame = {
    val blocked = searchBlock(df, orderCol, array(bnds.map(lit): _*), bnds.size)
    val wLoc = Window.partitionBy("__blk").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = blocked.groupBy("__blk")
      .agg(sum(valueCols.head).as(s"__t0"),
        valueCols.tail.zipWithIndex.map { case (c, i) =>
          sum(c).as(s"__t${i + 1}") }: _*)
    val offsets = valueCols.indices.foldLeft(totals) { (acc, i) =>
      acc.withColumn(s"__o$i", sum(col(s"__t$i")).over(wOff))
    }.select(col("__blk") +: valueCols.indices.map(i => col(s"__o$i")): _*)
    val local = valueCols.foldLeft(blocked) { (acc, c) =>
      acc.withColumn(c + suffix, sum(col(c)).over(wLoc))
    }
    val combined = local.join(broadcast(offsets), Seq("__blk"), "left")
    valueCols.zipWithIndex.foldLeft(combined) { case (acc, (c, i)) =>
      acc.withColumn(c + suffix,
        col(c + suffix) + coalesce(col(s"__o$i"), lit(0L)))
    }.drop("__blk" +: valueCols.indices.map(i => s"__o$i"): _*)
  }

  /** Grouped distributed prefix sums: [[prefixSum]]'s range-block
    * decomposition applied WITHIN each group — the scale-safe replacement
    * for `Window.partitionBy(groups).orderBy(orderCol)` running sums when
    * a single group's series is itself fact-proportional (few, wide
    * groups: per-returnflag rank supports, per-tenant timelines). A plain
    * partitioned window gives ONE task per group; this splits every group
    * into ≤ `spark.sql.shuffle.partitions` range blocks via per-group
    * approx-percentile bounds (a category-sized broadcast), runs the
    * running sums under a (group, block)-partitioned window, and
    * prefix-combines the per-block totals with a window over ≤|blocks|
    * rows per group — every stage parallel in groups × blocks.
    *
    * `orderCol` must be numeric and duplicate-free WITHIN each group
    * (group to the order grain first); with duplicates the intra-tie
    * placement is block-dependent. Same determinism contract as
    * [[prefixSum]]: exact/pinned addends regroup exactly under
    * associativity, so the block decomposition cannot change results.
    * Opt-in validation via `spark.graft.validateOrder` mirrors the
    * ungrouped scans, checking (group, order) distinctness. NULL group
    * keys are kept as their own group (null-safe joins throughout),
    * matching the `Window.partitionBy` semantics this replaces.
    *
    * Sizing caveat: the bounds and offsets sides are each
    * O(groups × blocks) rows and are broadcast-hinted because the
    * intended regime is FEW, WIDE groups. With MANY groups (per-tenant /
    * per-user series at high cardinality × 32 blocks) those sides can
    * exceed driver/broadcast limits — there a plain
    * `Window.partitionBy(groups)` already parallelizes across groups and
    * is the right tool; this facade buys nothing. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       orderCol: String, valueCols: Seq[String],
                       suffix: String = "_cum"): DataFrame = {
    require(groupCols.nonEmpty, "groupedPrefixSum needs group columns " +
      "(use prefixSum for a single global series)")
    require(valueCols.nonEmpty, "groupedPrefixSum needs a value column")
    if (df.sparkSession.conf.getOption("spark.graft.validateOrder")
          .exists(_.equalsIgnoreCase("true"))) {
      val key = struct((groupCols :+ orderCol).map(col): _*)
      val r = df.agg(count(lit(1)).as("n"), count_distinct(key).as("d")).head()
      require(r.getLong(0) == r.getLong(1),
        s"groupedPrefixSum: ($orderCol) has duplicates within a group " +
          s"(${r.getLong(0)} rows, ${r.getLong(1)} distinct keys)")
    }
    val (n, cuts) = blockCuts(df, orderCol)
    val gc = groupCols.map(col)
    // group-key joins below are null-safe (<=>): a NULL group key is a
    // group of its own, exactly as Window.partitionBy treats it — a
    // null-unsafe USING join would silently drop those rows
    // r15: evaluate the per-group bounds EAGERLY (one job, ≤|groups| rows —
    // the facade's contracted regime is FEW, WIDE groups, and the offsets
    // side below already broadcasts the same cardinality) and re-enter the
    // plan as a driver-local relation: AQE exchange reuse never fires above
    // a cached relation (see collectBounds), so the old lazy bounds agg
    // re-ran the full input aggregation once per blocked consumer.
    val boundsAgg = df.groupBy(gc: _*).agg(cuts.as("__bnds"))
    // per-group bounds memoized like [[collectBounds]] (same key shape,
    // same balance-only invariant; Rows are plain values)
    val bRows = graft.Tables.value(df.sparkSession,
      boundsKey(df, groupCols.mkString(",") + "|" + orderCol, n))(boundsAgg.collect())
    val bounds = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(bRows: _*), boundsAgg.schema)
      .select(groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__bg$i") } :+ col("__bnds"): _*)
    val bCond = groupCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__bg$i") }.reduce(_ && _)
    // same codegen'd binary search as [[searchBlock]] (the per-group
    // bounds arrive via the group-key join instead of a crossJoin)
    val blocked = searchBlock(df.join(broadcast(bounds), bCond), orderCol,
        col("__bnds"), n - 1)
      .drop("__bnds" +: groupCols.indices.map(i => s"__bg$i"): _*)
    val gbc = (groupCols :+ "__blk").map(col)
    val wLoc = Window.partitionBy(gbc: _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(gc: _*).orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = blocked.groupBy(gbc: _*)
      .agg(sum(valueCols.head).as("__t0"),
        valueCols.tail.zipWithIndex.map { case (c, i) =>
          sum(c).as(s"__t${i + 1}") }: _*)
    val offsets = valueCols.indices.foldLeft(totals) { (acc, i) =>
      acc.withColumn(s"__o$i", sum(col(s"__t$i")).over(wOff))
    }.select((groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__og$i") } :+ col("__blk").as("__oblk")) ++
      valueCols.indices.map(i => col(s"__o$i")): _*)
    val local = valueCols.foldLeft(blocked) { (acc, c) =>
      acc.withColumn(c + suffix, sum(col(c)).over(wLoc))
    }
    val oCond = (groupCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__og$i") } :+
      (col("__blk") === col("__oblk"))).reduce(_ && _)
    val combined = local.join(broadcast(offsets), oCond, "left")
    valueCols.zipWithIndex.foldLeft(combined) { case (acc, (c, i)) =>
      acc.withColumn(c + suffix,
        col(c + suffix) + coalesce(col(s"__o$i"), lit(0L)))
    }.drop(Seq("__blk", "__oblk") ++
      groupCols.indices.map(i => s"__og$i") ++
      valueCols.indices.map(i => s"__o$i"): _*)
  }

  /** Distributed STRICT prefix max — the scale-safe replacement for a
    * global `Window.orderBy(...).rowsBetween(unboundedPreceding, -1)` max:
    * for each row, the max of `valueCol` over all rows with strictly
    * smaller `orderCol` (null for the global minimum row, like the empty
    * window frame). Same block decomposition as [[prefixSum]]; max is
    * order-insensitive so only the strict/inclusive frame split differs.
    * `orderCol` must be numeric with DISTINCT values. */
  def prefixMax(df: DataFrame, orderCol: String, valueCol: String,
                out: String): DataFrame = {
    validateDistinctOrder(df, orderCol, "prefixMax")
    val blocked = rangeBlocks(df, orderCol)
    val wLoc = Window.partitionBy("__blk").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("__blk").agg(max(valueCol).as("__t"))
      .withColumn("__o", max("__t").over(wOff))
      .select("__blk", "__o")
    blocked
      .withColumn("__r", max(col(valueCol)).over(wLoc))
      .join(broadcast(offsets), Seq("__blk"), "left")
      // greatest skips nulls and is null only when BOTH sides are — exactly
      // the empty-global-frame semantics of the single-window form
      .withColumn(out, greatest(col("__r"), col("__o")))
      .drop("__blk", "__r", "__o")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic: D = sup |F_a − F_b|
    * between `valueCol`'s distributions in groups `a` and `b` of
    * `groupCol`. Returns one row (n_a, n_b, ks_d), unpinned — callers
    * round at their output edge. Ties are exact (both CDFs evaluate after
    * each full tie group); values pre-aggregate to their distinct grain so
    * the ordered scan runs over |support|, not the input (shrink-before-
    * window) — and because a continuous support can approach |facts|, the
    * running sums use [[prefixSum]]'s range-blocked combine, never one
    * global single-partition window. CDF values are exact integer/integer
    * divisions. */
  def ksStatistic(df: DataFrame, valueCol: String, groupCol: String,
                  a: String, b: String): DataFrame =
    ksStatisticOnSupport(ksSupport(df, valueCol, groupCol, a, b))

  /** The (value, count-in-a, count-in-b) SUPPORT grain [[ksStatistic]]
    * scans — exposed so a caller whose support is expensive to build (a
    * fact-grain aggregation) can memoize/cache it once and hand it to
    * [[ksStatisticOnSupport]]: the scan references its input three times
    * (eager bounds+totals pass, blocked rows, block totals), and AQE
    * exchange reuse does not deduplicate those references above a cached
    * relation (see collectBounds). Schema: (__v, __c1, __c2). */
  def ksSupport(df: DataFrame, valueCol: String, groupCol: String,
                a: String, b: String): DataFrame =
    df.filter(col(groupCol).isin(a, b))
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("__c1"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("__c2"))

  /** [[ksStatistic]] over a prebuilt [[ksSupport]] relation. The group
    * totals ride the SAME eager job as the block bounds (they are sums
    * over the support — one extra aggregate expression), entering the
    * final max as literals: the old fact-aggregating `tot` frame and its
    * broadcast crossJoin disappear, and the support is evaluated one time
    * fewer. Values are bit-identical — same addends, same divisions.
    *
    * A CACHED support (q145's session memo) keeps that job's bounds and
    * totals in the session's value memo, beside [[collectBounds]]'
    * entries, so a repeated construction runs no Spark job. Totals are
    * values, not balance, so they are only memoized while the input is
    * cached: its data cannot change until it is unpersisted, and
    * Tables.release, which unpersists the memo views, drops these
    * entries with them. */
  def ksStatisticOnSupport(pv: DataFrame): DataFrame = {
    val (n, cuts) = blockCuts(pv, "__v")
    def eager: Seq[Any] = {
      val row = pv.agg(cuts.as("__bnds"), sum("__c1").as("n_a"),
        sum("__c2").as("n_b")).head()
      Seq(cutsAt(row, 0), row.get(1), row.get(2))
    }
    val Seq(bnds: Seq[Any] @unchecked, nA, nB) =
      if (pv.storageLevel == org.apache.spark.storage.StorageLevel.NONE) eager
      else graft.Tables.value(pv.sparkSession, boundsKey(pv, "__v:ks", n))(eager)
    prefixSumWith(pv, "__v", Seq("__c1", "__c2"), "_cum", bnds)
      .agg(max(abs(
        col("__c1_cum").cast("double") / lit(nA).cast("double") -
        col("__c2_cum").cast("double") / lit(nB).cast("double"))).as("ks_d"))
      .select(lit(nA).cast("long").as("n_a"),
        lit(nB).cast("long").as("n_b"), col("ks_d"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) z-test between groups `a` and `b`
    * of `groupCol` over `valueCol`: one row (n_a, n_b, u_a, z), unpinned —
    * callers round at their output edge. Fractional (tie-averaged) ranks
    * are built WITHOUT a fact-grain global window: values pre-aggregate
    * to their distinct grain with per-group counts and the cumulative
    * count below each value runs through [[prefixSum]]'s range-blocked
    * combine (the [[ksStatistic]] discipline). R_A = Σ c_a·fr sums exact
    * half-integers (order-free in doubles); the normal approximation is
    * tie-corrected. Callers should pin `valueCol` to a rounding grid
    * first when comparing across engines. */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
                  a: String, b: String): DataFrame =
    mannWhitneyOnSupport(mwSupport(df, valueCol, groupCol, a, b))

  /** The (value, count-in-a, total-count) SUPPORT grain [[mannWhitney]]
    * ranks — exposed for caller-side memoization exactly like
    * [[ksSupport]] (the prefix scan references its input three times and
    * AQE never deduplicates those references above a cached relation).
    * Schema: (__v, __ca, __t). */
  def mwSupport(df: DataFrame, valueCol: String, groupCol: String,
                a: String, b: String): DataFrame =
    df.filter(col(groupCol).isin(a, b))
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("__ca"),
        count(lit(1)).as("__t"))

  /** [[mannWhitney]] over a prebuilt [[mwSupport]] relation. `z` is null
    * (never 0/0) when the variance term vanishes — an empty arm or a
    * single-valued support — or the tie correction's N(N−1) does (a
    * one-unit input). */
  def mannWhitneyOnSupport(grain: DataFrame): DataFrame = {
    val ranked = tieRanks(grain, Nil, "__v", "__t", "__fr")
    ranked.agg(
      sum("__ca").as("n_a"), sum(col("__t") - col("__ca")).as("n_b"),
      sum(col("__ca") * col("__fr")).as("__ra"),
      // tie term in DOUBLE: t³ overflows LONG once one tied value holds
      // >~2.09M rows (plausible for a coarse-pinned grain at 100 TB);
      // the term only feeds a double variance, and doubles are exact to
      // 2^53 so small-tie results are bit-identical to the integer path
      sum(col("__t").cast("double") * col("__t") * col("__t") - col("__t"))
        .as("__tie3"))
      .select(col("n_a"), col("n_b"),
        (col("__ra") - col("n_a") * (col("n_a") + 1) / lit(2.0)).as("u_a"),
        (((col("__ra") - col("n_a") * (col("n_a") + 1) / lit(2.0)) -
            col("n_a") * col("n_b") / lit(2.0)) /
          nullif(sqrt(col("n_a") * col("n_b") / lit(12.0) *
            (((col("n_a") + col("n_b")).cast("double") + 1) -
              col("__tie3") / nullif((col("n_a") + col("n_b")).cast("double") *
                ((col("n_a") + col("n_b")).cast("double") - 1), lit(0.0)))),
            lit(0.0))).as("z"))
  }

  /** Tie-averaged (fractional) ranks over a value SUPPORT: `sup` holds one
    * row per distinct (groupCols..., `valueCol`) with that value's row
    * count in `countCol`, and `out` is appended — the mean of the ranks
    * its tied rows would take, (t_cum − t) + (t + 1)/2 over the running
    * count t_cum within the group. The running count is [[prefixSum]]'s
    * range-blocked scan, or [[groupedPrefixSum]]'s with group columns, so
    * no rank is ever a fact-grain or single-task window. The rank machine
    * behind every rank statistic here: Mann–Whitney, Spearman,
    * Kruskal–Wallis (q243) and AUC (q265). */
  private[graft] def tieRanks(sup: DataFrame, groupCols: Seq[String],
      valueCol: String, countCol: String, out: String): DataFrame = {
    val cum = countCol + "_cum"
    val scanned =
      if (groupCols.isEmpty) prefixSum(sup, valueCol, Seq(countCol))
      else groupedPrefixSum(sup, groupCols, valueCol, Seq(countCol))
    scanned.withColumn(out, (col(cum) - col(countCol)).cast("double") +
        (col(countCol) + 1).cast("double") / lit(2.0))
      .drop(cum)
  }

  /** Largest support whose rank side [[rankSide]] broadcasts: 1M rows,
    * about 120 MB built — far under executor memory. */
  private val RankBroadcastMaxRows = 1000000L

  /** The join side of `ranks`, which holds one row per row of its support
    * `sup`: broadcast while the support has at most
    * [[RankBroadcastMaxRows]] rows (the fact side then skips its
    * shuffle), shuffled-hash beyond (no sort; a fact-proportional
    * broadcast would be a driver OOM at 100 TB). The choice is explicit
    * because the planner's estimate of a rank side after its prefix-scan
    * projections can sit under the auto-broadcast threshold however big
    * the side is. The support's row count is counted once and kept in
    * the session's value memo under its plan hash, like
    * [[collectBounds]]' bounds: a stale count (an input rewritten in
    * place) can only pick the other join strategy, never change rows. */
  private[graft] def rankSide(sup: DataFrame, ranks: DataFrame): DataFrame = {
    val rows = graft.Tables.value(sup.sparkSession, s"rows.${planHash(sup)}")(sup.count())
    if (rows <= RankBroadcastMaxRows) broadcast(ranks) else ranks.hint("shuffle_hash")
  }

  /** Spearman rank correlation of `xCol` vs `yCol` per group: one row per
    * group (groupCols..., n, spearman), unpinned — callers round at their
    * output edge. Pearson over tie-averaged ranks: each side shrinks to
    * its (group, value) support ([[spearmanSupport]]), the ranks come from
    * [[groupedPrefixSum]]'s range-block combine (parallel in groups ×
    * blocks — never one task per group), and they attach at the FACT
    * grain. Pin continuous columns to a rounding grid first when
    * comparing across engines. */
  def spearman(df: DataFrame, groupCols: Seq[String],
               xCol: String, yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "spearman needs group columns")
    val base = df.select(groupCols.map(col) :+ col(xCol).as("__x") :+
      col(yCol).as("__y"): _*)
    spearmanOnSupport(base, groupCols, "__x", "__y",
      spearmanSupport(base, groupCols, "__x"),
      spearmanSupport(base, groupCols, "__y"))
  }

  /** The (groupCols..., valueCol, t) SUPPORT of one [[spearman]] side, `t`
    * counting the rows of each value — exposed for caller-side
    * memoization like [[ksSupport]]: the grouped scan references it three
    * times, and AQE never deduplicates those references above a cached
    * relation. No group or value column may be named `t`. */
  def spearmanSupport(df: DataFrame, groupCols: Seq[String],
                      valueCol: String): DataFrame = {
    require(!(groupCols :+ valueCol).contains("t"),
      "spearmanSupport counts into column t: rename the input's t first")
    df.groupBy((groupCols :+ valueCol).map(col): _*).agg(count(lit(1)).as("t"))
  }

  /** [[spearman]] over the rows of `df` (groupCols, xCol, yCol) and their
    * prebuilt [[spearmanSupport]] relations. Ranks attach at the fact
    * grain — a pre-aggregated (x, y) pair grain shrinks nothing when
    * either column is near-continuous, and costs two fact-sized hash aggs
    * — and each rank side joins through [[rankSide]]. The rank sums sum
    * exact half-integers; the product sums carry summation-order drift
    * only. The coefficient is null (never 0/0) for a group whose x or y
    * support is a single value: its rank variance is zero. */
  def spearmanOnSupport(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String, supX: DataFrame, supY: DataFrame): DataFrame = {
    val gc = groupCols.map(col)
    def side(sup: DataFrame, vc: String, out: String): DataFrame =
      rankSide(sup, tieRanks(sup, groupCols, vc, "t", out)
        .select(gc :+ col(vc) :+ col(out): _*))
    df.join(side(supX, xCol, "__fx"), groupCols :+ xCol)
      .join(side(supY, yCol, "__fy"), groupCols :+ yCol)
      .groupBy(gc: _*).agg(
        count(lit(1)).cast("double").as("__n"),
        sum("__fx").as("__sx"),
        sum("__fy").as("__sy"),
        sum(col("__fx") * col("__fy")).as("__sxy"),
        sum(col("__fx") * col("__fx")).as("__sxx"),
        sum(col("__fy") * col("__fy")).as("__syy"))
      .select(gc :+ col("__n").cast("long").as("n") :+
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          nullif(sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
            (col("__n") * col("__syy") - col("__sy") * col("__sy"))), lit(0.0)))
          .as("spearman"): _*)
  }

  /** Lorenz concentration curve of `valueCol` over the rows of `df`
    * (typically a unit-grain relation: one row per customer/supplier/
    * doc): cumulative value share at each cumulative-population decile
    * boundary, one row per observed decile (decile, cum_population,
    * cum_value), unpinned — callers round at their output edge. Built on
    * [[prefixSum]]'s range-blocked combine over the distinct-value grain
    * — no fact-grain global window. A mass point spanning a whole decile
    * leaves that decile without a boundary row (reported as observed).
    * Pin `valueCol` to a rounding grid first when comparing across
    * engines. */
  def lorenz(df: DataFrame, valueCol: String): DataFrame =
    lorenzOnSupport(lorenzSupport(df, valueCol))

  /** The (value, count, value·count) SUPPORT grain [[lorenz]] scans —
    * exposed for caller-side memoization exactly like [[ksSupport]] (the
    * scan and the totals reference it four times, and AQE never
    * deduplicates those references above a cached relation). Schema:
    * (__v, __c, __rc). */
  def lorenzSupport(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rc", col("__v") * col("__c"))

  /** [[lorenz]] over a prebuilt [[lorenzSupport]] relation. The block
    * bounds come from [[prefixSum]]'s session-memoized eager bounds job,
    * so a repeated construction over the same support runs no Spark job;
    * the two totals stay a lazy one-row aggregate broadcast beside the
    * scan (totals are VALUES, so unlike bounds they must never be served
    * from a memo that could outlive its input). */
  def lorenzOnSupport(grain: DataFrame): DataFrame = {
    val tot = grain.agg(sum("__c").as("__nc"), sum("__rc").as("__tr"))
    prefixSum(grain, "__v", Seq("__c", "__rc"))
      .crossJoin(broadcast(tot))
      .withColumn("__f", col("__c_cum").cast("double") / col("__nc").cast("double"))
      .withColumn("__s", col("__rc_cum") / col("__tr"))
      .withColumn("decile", ceil(col("__f") * lit(10.0)).cast("long"))
      .groupBy("decile")
      .agg(max("__f").as("cum_population"), max("__s").as("cum_value"))
      .orderBy("decile")
  }

  /** CUPED variance reduction: given per-unit rows with an arm label, a
    * pre-period covariate `xCol` and the metric `yCol`, computes
    * θ = cov(X,Y)/var(X) pooled over ALL units, the adjusted metric
    * Y′ = Y − θ(X − mean X), and returns one row per arm
    * (arm, n, mean_y, mean_y_adj, var_reduction, theta) — unpinned;
    * callers round at their output edge. The adjustment preserves each
    * arm's expected treatment effect while shrinking variance by the
    * squared X–Y correlation — the standard faster-experiment-readout
    * trick. One single-row stats broadcast; everything else stays at unit
    * grain. */
  def cuped(df: DataFrame, armCol: String, xCol: String, yCol: String): DataFrame = {
    val m = df.select(col(armCol).as("arm"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val g = m.agg((covar_pop(col("__x"), col("__y")) / var_pop(col("__x"))).as("__theta"),
      avg("__x").as("__mx"), var_pop(col("__y")).as("__vy"))
    val adj = m.crossJoin(broadcast(g))
      .withColumn("__yadj", col("__y") - col("__theta") * (col("__x") - col("__mx")))
    val vr = adj.agg(
      (lit(1.0) - var_pop(col("__yadj")) / max("__vy")).as("var_reduction"),
      max("__theta").as("theta"))
    adj.groupBy("arm")
      .agg(count(lit(1)).as("n"), avg("__y").as("mean_y"),
        avg("__yadj").as("mean_y_adj"))
      .crossJoin(broadcast(vr))
  }

  /** Adamic–Adar link prediction over a bipartite (user, item) relation:
    * canonical item pairs (item_a < item_b) scored Σ 1/ln(deg(u)) over
    * their common users, plus the common-user count. Users of degree < 2
    * cannot witness a pair and are dropped before the pair join (also
    * keeping ln(deg) > 0). Cap per-user degree BEFORE calling (see
    * `Tables.cappedRatings`) — the common-neighbor enumeration fans out
    * per-user degree². Degrees are computed once and joined back before
    * the pair explosion, so the score is one map-side-combinable sum. */
  def adamicAdar(df: DataFrame, userCol: String, itemCol: String): DataFrame = {
    val r = df.select(col(userCol).as("__u"), col(itemCol).as("__i")).distinct()
    val deg = r.groupBy("__u").agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= 2)
      .withColumn("__w", lit(1.0) / log(col("__deg").cast("double")))
    val wr = r.join(deg.select("__u", "__w"), "__u")
    wr.select(col("__u"), col("__i").as("item_a"), col("__w"))
      .join(wr.select(col("__u"), col("__i").as("item_b")), "__u")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("common_users"), sum("__w").as("aa"))
  }

  /** Per-node triangle participation counts over an undirected edge list.
    * Edges may arrive in either orientation and with duplicates; they are
    * canonicalized to a < b first. Triangles enumerate once via the id
    * orientation a < b < c: wedge join (a,b)⋈(b,c) on the middle node,
    * closed by (a,c); each triangle then credits its three corners via an
    * explode (never three rescans). Integer-exact throughout. At real
    * graph scale, orient by DEGREE (low→high) instead of id — it bounds
    * the wedge fan-out by arboricity; id order is kept in the shipped
    * queries so a SQL oracle can reproduce the orientation cheaply. */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("__a"),
        greatest(col(aCol), col(bCol)).as("__b"))
      .filter(col("__a") < col("__b"))
      .distinct()
    val tri = e.select(col("__a"), col("__b"))
      .join(e.select(col("__a").as("__b"), col("__b").as("__c")), "__b")
      .join(e.select(col("__a"), col("__b").as("__c")), Seq("__a", "__c"))
    tri.select(explode(array(col("__a"), col("__b"), col("__c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Next-item transition matrix: consecutive `itemCol` values per `keyCol`
    * sequence (ordered by `orderBy`) → (prev_item, next_item, count, prob).
    * One window per key partition plus two aggregations — linear (q108). */
  def nextTransitions(df: DataFrame, keyCol: String, orderBy: Seq[Column],
                      itemCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderBy: _*)
    val tr = df
      .withColumn("__prev", lag(col(itemCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_item"), col(itemCol).as("next_item"))
      .agg(count(lit(1)).as("c"))
    val tot = tr.groupBy("prev_item").agg(sum("c").as("__t"))
    tr.join(tot, "prev_item")
      .select(col("prev_item"), col("next_item"), col("c"),
        (col("c").cast("double") / col("__t").cast("double")).as("prob"))
  }

  /** Interval join: every (left, right) pair sharing `keys` whose numeric
    * timestamps (`leftTs`/`rightTs`, same units, DISTINCT column names,
    * non-negative) differ by at most `width`, plus any extra `cond`
    * conjuncts (e.g. an id inequality to halve a self-join).
    *
    * Plan: band time into `width`-sized cells. The right side keeps its one
    * true cell; the left side explodes to its 3 adjacent cells; the join
    * becomes an EQUI join on (keys, cell) with the full interval predicate
    * as residual. Every qualifying pair has |cell diff| ≤ 1, so it is
    * emitted exactly once, candidate generation is 3·|left| instead of
    * per-key quadratic, and the shuffle partitions on (keys, cell) — the
    * same banding discipline [[graft.plans.SimilarityBandRewrite]] applies
    * to cosine joins. Below broadcast thresholds the optimizer still picks
    * a broadcast hash join; with fact-sized stats it degrades to a shuffled
    * sort-merge join, never a nested loop (asserted in PlanRegressionSpec
    * for the q39 instance). */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, width: Long,
                   cond: Column = lit(true)): DataFrame = {
    require(leftTs != rightTs, "leftTs and rightTs must be distinct column names")
    require(width > 0, s"width must be positive, got $width (a zero width would " +
      "divide by zero in the cell key; for exact-timestamp matching use an equi join)")
    val lc = left.withColumn("__iv_cell", explode(expr(
      s"array($leftTs div ${width}L - 1, $leftTs div ${width}L, $leftTs div ${width}L + 1)")))
    val rc = right.withColumn("__iv_cell", expr(s"$rightTs div ${width}L"))
    lc.join(rc, keys :+ "__iv_cell")
      .filter(abs(col(leftTs) - col(rightTs)) <= width && cond)
      .drop("__iv_cell")
  }

  /** Overlapping fixed-size chunking over an array column (the RAG /
    * training-window shape): one output row per (input row, chunk), where
    * chunk i covers elements [i·stride+1, i·stride+chunkSize] (1-based).
    * Row-linear: the chunk starts come from a per-row `sequence` explode —
    * fan-out ≈ len/stride, no join, no shuffle. */
  def chunkOverlap(df: DataFrame, arrCol: String, chunkSize: Int, stride: Int,
                   idxCol: String = "chunk_idx",
                   chunkCol: String = "chunk"): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"chunkSize and stride must be positive, got ($chunkSize, $stride)")
    df.filter(size(col(arrCol)) >= 1)
      .withColumn(idxCol, explode(expr(s"sequence(0L, (size($arrCol) - 1) div $stride)")))
      .withColumn(chunkCol,
        expr(s"slice($arrCol, cast($idxCol * $stride + 1 as int), $chunkSize)"))
  }

  /** Release a localCheckpoint's block-manager residents. `Dataset
    * .unpersist` only covers CacheManager entries — an eager checkpoint's
    * data lives as RDD storage blocks, reachable only through the plan's
    * `LogicalRDD` leaf (its `rdd` accessor is public). The relation is
    * unusable afterwards (lineage was truncated at checkpoint), so only
    * call this on rounds that are never read again. blocking=false — the
    * loop doesn't wait on eviction. */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        try r.rdd.unpersist(false) catch { case _: Exception => () }
      case _ => ()
    }

  /** Connected components over a bipartite membership relation
    * `(idCol, bucketCol)`: two ids are connected when they share any
    * bucket. Returns `(idCol, component)` where component = min id of the
    * cluster. Min-label propagation to the EXACT fixpoint (driver-side
    * convergence check, `maxRounds` as a runaway bound). From the third
    * round on — i.e. only when plain propagation hasn't already converged,
    * which it does for the star-shaped clusters dedup produces — each round
    * adds a POINTER-JUMPING step, label(x) ← label(label(x)), which
    * compresses chain-shaped clusters exponentially, so a diameter-D
    * component converges in O(log D) rounds instead of D. Membership stays
    * linear in the input — never a pairwise edge list, which is quadratic
    * per bucket at 100 TB. */
  def connectedComponents(mem: DataFrame, idCol: String, bucketCol: String,
                          maxRounds: Int = 50): DataFrame = {
    val m = mem.select(col(idCol), col(bucketCol).as("__bucket")).cache()
    // Each round's labels are LOCALCHECKPOINTED (eager), not merely cached:
    // an iterative join loop otherwise accumulates every prior round inside
    // its logical plan — observed as ~1000 Exchange nodes in q93's final
    // plan before this fix. Caching truncates EXECUTION but not the plan,
    // so per-round analysis/optimization cost kept growing and any cache
    // eviction would have recomputed the whole cascade. The checkpoint
    // pins round R's labels as a materialized scan (the label relation is
    // one row per id — small); on a real cluster the same call becomes
    // reliable checkpointing to the cluster FS.
    var labels = m.select(col(idCol)).distinct()
      .withColumn("__label", col(idCol)).localCheckpoint()
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      // hop 1: through buckets — bucket min of member labels, back to members
      val bmin = m.join(labels, idCol)
        .groupBy("__bucket").agg(min("__label").as("__bl"))
      val hopped = m.join(bmin, "__bucket")
        .groupBy(idCol).agg(min("__bl").as("__label"))
      // hop 2 (only once cheap propagation has had its chance): pointer
      // jumping — adopt the label OF the label (a label is itself an id, so
      // its own, possibly smaller, label short-circuits chains; "label is a
      // member of my component" holds transitively and labels stay
      // monotone non-increasing)
      var jumpCache: Option[DataFrame] = None
      val next = (if (round < 2) hopped else {
        val h = hopped.cache() // referenced twice (row + label-lookup side)
        jumpCache = Some(h)
        h.join(h.select(col(idCol).as("__label"), col("__label").as("__ll")),
            Seq("__label"), "left")
          .select(col(idCol), least(col("__label"), col("__ll")).as("__label"))
      }).localCheckpoint() // eager — materialized here, lineage truncated
      changed = next.join(labels.withColumnRenamed("__label", "__prev"), idCol)
        .filter(col("__label") =!= col("__prev")).limit(1).count() > 0
      jumpCache.foreach(_.unpersist())
      // Release round R−1's checkpoint blocks: `next` is already
      // materialized (eager checkpoint) and `changed` already computed, so
      // nothing references the old labels again. Without this every round
      // leaves a block-manager resident behind — across a 182-query session
      // that accumulation is exactly the GC-pressure mechanism behind the
      // r6 mid-suite bench anomaly window.
      dropCheckpoint(labels)
      labels = next
      round += 1
    }
    m.unpersist()
    labels.withColumnRenamed("__label", "component")
  }

  /** IVF-routed cosine top-k — the scale path for [[cosineTopK]]: corpus
    * vectors are pre-assigned to cells (`cellCol`), each probe is routed to
    * its nearest cell centroid and searches ONLY that cell (nprobe=1).
    * Centroids are dimension-sized → broadcast twice (probe routing, cell
    * assignment is already materialized in the corpus); the search join is
    * an equi join on the cell id, so candidate generation is cell-local
    * instead of corpus-wide. Approximate: a true neighbor in another cell
    * is missed — recall rises with finer/overlapping cells. Routing and
    * ranking both order on the cosine pinned to 5 dp (ties by cell / id —
    * the q85 form), so two engines whose cosines differ in the last ulp
    * pick the same cell and neighbors; `cos` is returned unpinned. */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, probes: DataFrame, k: Int,
              corpusId: String = "id", corpusVec: String = "vec", cellCol: String = "cell",
              centroidVec: String = "cvec",
              probeId: String = "probe_id", probeVec: String = "probe_vec"): DataFrame = {
    graft.plans.CosineSim.register(corpus.sparkSession)
    val routed = probes.select(col(probeId), col(probeVec))
      .crossJoin(broadcast(centroids.select(col(cellCol), col(centroidVec))))
      .withColumn("__ccos", expr(s"cosine_sim($probeVec, $centroidVec)"))
      .transform(df => topKPerGroup(df, Seq(probeId),
        Seq(graft.Tables.r5(col("__ccos")).desc, col(cellCol)), 1, "__crn"))
      .select(col(probeId), col(probeVec), col(cellCol))
    corpus.select(col(corpusId), col(corpusVec), col(cellCol))
      .join(broadcast(routed), cellCol)
      .filter(col(corpusId) =!= col(probeId))
      .withColumn("cos", expr(s"cosine_sim($probeVec, $corpusVec)"))
      .transform(df => topKPerGroup(df, Seq(probeId),
        Seq(graft.Tables.r5(col("cos")).desc, col(corpusId)), k))
      .select(col(probeId), col(cellCol), col("rank"), col(corpusId), col("cos"))
  }

  /** Brute-force cosine top-k: for each probe vector, the k most similar
    * corpus vectors (self-matches excluded when ids collide). Probes are
    * broadcast — the corpus streams map-side, so the scan is linear and
    * shuffle-free until the per-probe top-k. Vectors must be
    * `array<double>`; similarity is the native codegen'd `cosine_sim`.
    * Neighbors rank on the cosine pinned to 5 dp, ties by corpus id (the
    * q71 form — engine-stable at the last ulp); `cos` is returned
    * unpinned. For corpus×corpus near-dup joins use the IVF/banded paths
    * instead (q85 / SimilarityBandRewrite). */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                 corpusId: String = "id", corpusVec: String = "vec",
                 probeId: String = "probe_id", probeVec: String = "probe_vec"): DataFrame = {
    graft.plans.CosineSim.register(corpus.sparkSession)
    corpus.select(col(corpusId), col(corpusVec))
      .crossJoin(broadcast(probes.select(col(probeId), col(probeVec))))
      .filter(col(corpusId) =!= col(probeId))
      .withColumn("cos", expr(s"cosine_sim($probeVec, $corpusVec)"))
      .transform(df => topKPerGroup(df, Seq(probeId),
        Seq(graft.Tables.r5(col("cos")).desc, col(corpusId)), k))
      .select(col(probeId), col("rank"), col(corpusId), col("cos"))
  }

  /** BM25 ranking of documents for a fixed `query` term set, over an
    * exploded `(idCol, termCol)` token stream plus a `(idCol, lenCol)`
    * document-length relation.
    *
    * Plan: the term filter runs BEFORE any shuffle (shuffled volume is
    * proportional to query-term hits, not the corpus); document
    * frequencies (|query| rows) and the corpus stats (one row) broadcast;
    * per-term scores are summed in the FIXED order of `query` via
    * conditional aggregation — a bare sum(score) would make the result
    * depend on IEEE addition order. Returns `(idCol, n_terms, score)`,
    * top `topK` by (score pinned to 4 dp desc, idCol) — the q100 ranking,
    * engine-stable at the last ulp; `score` is returned unpinned. */
  def bm25Rank(tokens: DataFrame, docLens: DataFrame, idCol: String,
               termCol: String, lenCol: String, query: Seq[String],
               k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(query.nonEmpty && query.distinct == query, "query must be distinct terms")
    val stats = docLens.agg(count(lit(1)).as("__n_docs"), avg(lenCol).as("__avgdl"))
    val tf = tokens.filter(col(termCol).isin(query: _*))
      .groupBy(col(idCol), col(termCol)).agg(count(lit(1)).as("__tf"))
    val df = tf.groupBy(termCol).agg(count(lit(1)).as("__df"))
    val sc = tf.join(broadcast(df), termCol)
      .join(docLens.select(col(idCol), col(lenCol).cast("long").as("__dl")), idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        log(lit(1.0) + (col("__n_docs") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
          ((col("__tf") * lit(k1 + 1)) /
            (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("__dl") / col("__avgdl"))))))
    sc.groupBy(idCol)
      .agg(count(lit(1)).as("n_terms"),
        query.map(t => coalesce(sum(when(col(termCol) === t, col("__s"))), lit(0.0)))
          .reduce(_ + _).as("score"))
      .orderBy(graft.Tables.r4(col("score")).desc, col(idCol)).limit(topK)
  }

  /** Symmetric integer quantization of an `array<double>` column: per-row
    * scale = max|x|/`levels`, codes = round-half-up(x/scale) clamped to
    * ±`levels`, plus the reconstruction RMSE. Entirely row-local (fold +
    * map over the vector) — a pure map stage at any scale. Appends
    * `scale`, `codes` (array<long>) and `rmse`. */
  def quantizeInt(df: DataFrame, vecCol: String, levels: Int = 127): DataFrame =
    df.withColumn("__amax", expr(s"aggregate($vecCol, 0e0, (a, x) -> greatest(a, abs(x)))"))
      .withColumn("scale", col("__amax") / lit(levels.toDouble))
      .withColumn("codes", expr(
        s"transform($vecCol, x -> IF(scale = 0e0, 0L, " +
          s"greatest(${-levels}L, least(${levels}L, CAST(floor(x / scale + 0.5e0) AS BIGINT)))))"))
      .withColumn("rmse", sqrt(expr(
        s"aggregate(zip_with($vecCol, codes, (x, qi) -> " +
          "(x - CAST(qi AS DOUBLE) * scale) * (x - CAST(qi AS DOUBLE) * scale)), " +
          s"0e0, (a, x) -> a + x)") / size(col(vecCol)).cast("double")))
      .drop("__amax")

  /** The q79 [0,1] text-quality heuristic as a single reusable column
    * expression (length, punctuation and stopword ratios combined) — usable
    * in BATCH and STREAMING plans alike since it is fully row-local; all
    * ratios are exact int/int divisions, and an empty text (or one with
    * no words) scores null, never a division by zero. Splits `text` into
    * lower-cased words on single spaces, empties dropped. */
  def qualityScore(text: Column): Column =
    qualityScore(text, filter(split(lower(text), " "), w => w =!= ""))

  /** [[qualityScore]] over an already-split `words` array (lower-cased,
    * empties dropped) — q79 reads its cached word arrays instead of
    * re-splitting the text. */
  def qualityScore(text: Column, words: Column): Column =
    least(lit(1.0), size(words) / lit(100.0)) * (lit(1.0) - punctRatio(text)) *
      (lit(0.5) + least(lit(0.5), stopwordRatio(words) * lit(5.0)))

  /** Share of `text`'s characters outside [a-z0-9 ]; null on an empty text. */
  private[graft] def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  /** Share of `words` in the six-word stopword list; null with no words. */
  private[graft] def stopwordRatio(words: Column): Column =
    size(filter(words, w => w.isin("the", "a", "of", "in", "and", "to")))
      .cast("double") / nullif(size(words).cast("double"), lit(0.0))

  /** Signed-random-projection LSH bucket for an `array` vector column:
    * `nPlanes` hyperplanes whose ±1 signs derive from sha256(plane, dim) —
    * reproducible on any cluster, no RNG state, no fit step. Components
    * are pre-quantized to integers (×`quantScale`) so the signed dot
    * products are exact integer arithmetic. The sign matrix collapses to a
    * ONE-ROW broadcast; bucket assignment is then row-local. Vectors whose
    * planewise dot is ≥ 0 set that bucket bit. Appends `bucket`. */
  def rpLshBucket(df: DataFrame, vecCol: String, dims: Int,
                  nPlanes: Int = 16, quantScale: Int = 1000): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62, "nPlanes must fit a long's bits")
    val s = df.sparkSession
    graft.plans.RpBucket.register(s)
    val planes = s.range(nPlanes).toDF("p").crossJoin(s.range(dims).toDF("i"))
      .select(col("p"), col("i"), expr(
        "IF(substring(sha2(concat(CAST(p AS STRING), '_', CAST(i AS STRING)), 256), 1, 1) <= '7', 1L, -1L)")
        .as("sgn"))
      .groupBy("p")
      .agg(expr("transform(sort_array(collect_list(struct(i, sgn))), x -> x.sgn)").as("sv"))
      .agg(expr("transform(sort_array(collect_list(struct(p, sv))), x -> x.sv)").as("__planes"))
    // one fused codegen'd loop nest per row (graft.plans.RpBucket) — the
    // interpreted nested-HOF form this replaces walked nPlanes×dims boxed
    // lambda steps per row (measured ~10 s for 2k rows at 16×64, r10)
    df.crossJoin(broadcast(planes))
      .withColumn("bucket",
        expr(s"rp_bucket($vecCol, __planes, ${quantScale}e0)"))
      .drop("__planes")
  }

  /** One-pass multi-column table profile: per column, row count, non-null
    * count, exact distinct count, and (numeric columns only) min/max cast
    * to double. ALL columns are profiled in a SINGLE scan — the multiple
    * `count(DISTINCT ...)` aggregates plan as one Expand feeding one
    * partial+final aggregation, never a per-column loop of scans, which is
    * the naive profiler's 100 TB failure mode. The wide one-row aggregate
    * is reshaped to long with `stack` (row-local). At extreme cardinality
    * swap the exact distinct for `approx_count_distinct`. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val fields = cols.map(c => byName.getOrElse(c,
      throw new IllegalArgumentException(s"no such column: $c")))
    def isNum(f: org.apache.spark.sql.types.StructField) =
      f.dataType.isInstanceOf[NumericType]
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ fields.zipWithIndex.flatMap {
      case (f, i) =>
        Seq(count(col(f.name)).as(s"__nn$i"),
          countDistinct(col(f.name)).as(s"__nd$i")) ++
          (if (isNum(f)) Seq(min(col(f.name)).cast("double").as(s"__mn$i"),
            max(col(f.name)).cast("double").as(s"__mx$i"))
          else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      val mm = if (isNum(f)) s"__mn$i, __mx$i"
               else "cast(null as double), cast(null as double)"
      s"'${f.name}', __nn$i, __nd$i, $mm"
    }.mkString(", ")
    wide.selectExpr("n_rows", s"stack(${fields.length}, $stackArgs) AS " +
        "(column_name, n_nonnull, n_distinct, min_v, max_v)")
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy("column_name")
  }

  /** Weighted PageRank by power iteration over an edge list
    * `(srcCol, dstCol, weightCol)`: rank(j) ← (1−d) + d·Σᵢ rank(i)·wᵢⱼ/outᵢ
    * for a fixed `iters` rounds. Returns `(id, rank)` over every node that
    * appears as a source or destination.
    *
    * Plan: the out-degree-normalized edge relation is computed ONCE and
    * cached (it is reused every round); each round is one equi join on the
    * source id + one (dst)-keyed partial+final aggregation + a left join
    * back to the node set — all hash-partitionable on the node id, no
    * driver-side state, no collect. Each round's rank relation (one row
    * per node — small) is eagerly localCheckpointed, truncating the plan
    * lineage exactly like [[connectedComponents]]; without it round R's
    * plan embeds all R−1 predecessors.
    *
    * Cross-engine determinism: each round's rank is pinned to 10 decimal
    * places with the Tables.rnd floor formula. The per-node contribution
    * sum is order-sensitive in IEEE doubles at ~1e-16 relative; pinning
    * each round keeps that drift far below the half-ulp of the pin, so two
    * engines (or two partitionings of the same cluster) stay BIT-IDENTICAL
    * round over round instead of compounding — same trick as q102's
    * sequential fold, chosen here because a fixed addition order cannot be
    * imposed on a distributed aggregation. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast("double").as("__w"))
    val deg = e.groupBy("__src").agg(sum("__w").as("__t"))
    // r15: the r14 explicit hash(key, numShufflePartitions) co-partition
    // of `ew`/`nodes` is REMOVED. The r14 verdict flagged the claimed
    // per-round exchange elimination as unverified; this round's Profile
    // census (bench/r15/q113_census_*.txt, min-of-4 at local[32] sf0.1)
    // measured it backwards: WITH the repartitions 4.73 s wall, 35
    // stages, 451 tasks, 15.2 s summed task time; WITHOUT them 2.37 s,
    // the SAME 35 stages, 234 tasks, 5.6 s. Each iteration materializes
    // through localCheckpoint as its own query, and AQE re-plans every
    // round from the checkpointed RDDs — the stage count (= exchange
    // rounds) is identical either way, so the forced 32-way layout never
    // saved an exchange; it only pinned every per-round stage at
    // numShufflePartitions tasks (the over-partitioning cost the r14
    // verdict measured on the light events consumers, here ~3x the
    // summed task time). AQE's own coalescing picks the round layout.
    val ew = e.join(deg, "__src")
      .select(col("__src"), col("__dst"), (col("__w") / col("__t")).as("__p"))
      .cache()
    val nodes = e.select(col("__src").as("__id"))
      .union(e.select(col("__dst").as("__id")))
      .distinct().localCheckpoint()
    // r15 session 2: a localCheckpointed frame carries NO size statistics
    // (LogicalRDD defaults to defaultSizeInBytes), so the planner never
    // broadcast the node-sized rank/contribution relations — every round
    // paid a full shuffle of the cached edge relation plus two more
    // exchanges for frames of |nodes| rows. Broadcast them EXPLICITLY
    // (guide §3.1: estimates go wrong after checkpoints — hint the side
    // you know), sized to the data: one count of the checkpointed node
    // set, broadcast only below 4M nodes (≈ a ~100 MB built relation; a
    // web-scale node set falls back to the shuffle form). Join strategy
    // never changes rows, and each round's 10 dp pin already makes the
    // contribution sum's partial-order drift invisible (scaladoc above).
    val bcastRanks = nodes.count() <= 4000000L
    var ranks = nodes.select(col("__id"), lit(1.0).as("__r"))
    for (i <- 1 to iters) {
      val rsrc = ranks.withColumnRenamed("__id", "__src")
      val contrib = ew.join(if (bcastRanks) broadcast(rsrc) else rsrc, "__src")
        .groupBy("__dst").agg(sum(col("__r") * col("__p")).as("__c"))
      val prev = ranks
      val cid = contrib.withColumnRenamed("__dst", "__id")
      ranks = nodes.join(if (bcastRanks) broadcast(cid) else cid,
          Seq("__id"), "left")
        .select(col("__id"), graft.Tables.rnd(
          lit(1.0 - damping) + lit(damping) * coalesce(col("__c"), lit(0.0)), 10).as("__r"))
        .localCheckpoint()
      // release iter i−1's checkpoint blocks (same reasoning as
      // connectedComponents — the new eager checkpoint no longer reads
      // them). i=1's prev is a projection over the shared `nodes`
      // checkpoint, which IS read every round — the guard protects it.
      if (i > 1) dropCheckpoint(prev)
    }
    ew.unpersist()
    // the final ranks checkpoint is self-contained — the node set's blocks
    // are no longer referenced by anything the caller can evaluate
    // (iters=0 degenerates to a projection OVER nodes, so keep it then)
    if (iters >= 1) dropCheckpoint(nodes)
    ranks.select(col("__id").as("id"), col("__r").as("rank"))
  }
}
