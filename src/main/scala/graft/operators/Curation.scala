package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the dedup/similarity core:
  * oracle-checkable sketch signatures (KMV MinHash), duplicate-cluster
  * resolution (connected components over fingerprint buckets), reproducible
  * stratified sampling, and context-window sequence packing.
  *
  * Scale notes:
  * - q92 (KMV) is the ORACLE-CHECKABLE sketch: unlike HLL (q22) or
  *   MinHashLSH models (q70), a k-minimum-values signature is a pure
  *   function of the input set via sha256, so both engines reproduce it
  *   bit-for-bit. One explode + one windowed top-k per doc; linear.
  * - q93 (components) propagates min-labels over the bipartite doc↔bucket
  *   graph, NOT a pairwise edge list — membership is 2 rows per doc
  *   (linear) even when a bucket holds a million near-dups, where a
  *   pairwise edge list would be quadratic per bucket. The loop runs to
  *   the exact fixpoint (driver-side convergence check, diameter-many
  *   rounds); at 100 TB the same loop gets pointer-jumping (label-of-label
  *   doubling) to compress long chains to O(log n) rounds.
  * - q94 samples by CONTENT-STABLE hash bucket, not rand(): the sample is
  *   reproducible across clusters, partitionings and reruns, and the same
  *   bucket function selects consistent rows across tables — the only
  *   sampling discipline that survives a distributed pipeline. Rates are
  *   per-stratum (downsample the dominant language).
  * - q96 packs documents into fixed token-budget chunks with a running sum
  *   per source — the streaming-greedy packing used to build training
  *   context windows; one window per source partition, no shuffle beyond
  *   the partitioning, deterministic chunk ids both engines.
  */
object Curation {

  /** KMV (k-minimum-values) MinHash signature, k=8: the 8 smallest sha256
    * values over the doc's 5-word shingle set, plus the KMV distinct-count
    * estimate (k-1)/frac(kth-min) — exact count when the doc has <k
    * shingles. Signature elements are truncated to 16 hex chars (64 bits). */
  def q92(s: SparkSession, d: String): DataFrame = {
    val sh = TextPipeline.shingles5(s, d)
      .withColumn("h", sha2(col("sh"), 256))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    sh.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("h")))
      .filter(col("rn") <= 8)
      .groupBy("doc_id")
      .agg(
        concat_ws(",", sort_array(collect_list(substring(col("h"), 1, 16)))).as("sig"),
        max(expr("CAST(conv(substring(h, 1, 12), 16, 10) AS BIGINT)") /
          lit(281474976710656e0)).as("kth_frac"))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("sig"),
        r2(when(col("n_shingles") >= 8, lit(7.0) / col("kth_frac"))
          .otherwise(col("n_shingles").cast("double"))).as("est_distinct"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster resolution: connected components over the "shares a
    * fingerprint bucket" graph (buckets = q84's fp_min/fp_max 1-perm
    * MinHash values). Output: each doc's component id (min doc_id in the
    * cluster) and the cluster size — the step that turns near-dup PAIRS
    * into keep/drop decisions. */
  def q93(s: SparkSession, d: String): DataFrame = components(s, d, maxRounds = 20)

  /** The propagation behind q93 — delegates to the generic
    * [[graft.api.Graft.connectedComponents]] (exact fixpoint, linear
    * membership) over the fingerprint-bucket membership relation.
    * Session-memoized like [[TextPipeline.shingles5]]: the driver-side
    * fixpoint loop is the most expensive derivation in the curation family
    * and TWO keys consume its output (q93 labels, q101 resolution). */
  private[graft] def components(s: SparkSession, d: String, maxRounds: Int): DataFrame =
    memoized(s, d, s"comp$maxRounds") {
      // fp is referenced by both membership branches — cache it so the
      // shingle+sha256 pass runs once
      val fp = TextPipeline.shingles5(s, d)
        .groupBy("doc_id")
        .agg(min(sha2(col("sh"), 256)).as("fp_min"),
          max(sha2(col("sh"), 256)).as("fp_max"))
        .cache()
      val mem = fp.select(col("doc_id"), col("fp_min").as("bucket"))
        .union(fp.select(col("doc_id"), col("fp_max").as("bucket")))
      val labels = graft.api.Graft.connectedComponents(mem, "doc_id", "bucket", maxRounds)
      fp.unpersist()
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "component")
        .select(col("doc_id"), col("component"), col("csize"))
        .orderBy("doc_id")
    }

  /** Duplicate-cluster RESOLUTION to keep/drop decisions: within each q93
    * connected component, keep the single best document by q79's quality
    * score (ties → lowest doc_id) and mark the rest for dropping — the step
    * that turns near-dup clusters into an actual curated corpus. One extra
    * join + a component-partitioned window over q93's output; components
    * are near-dup clusters (tiny), so the window partitions are bounded. */
  def q101(s: SparkSession, d: String): DataFrame = {
    val comp = components(s, d, maxRounds = 20) // doc_id, component, csize
    val qual = TextPipeline.q79(s, d).select(col("doc_id"), col("quality"))
    comp.join(qual, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("component").orderBy(col("quality").desc, col("doc_id"))))
      .select(col("doc_id"), col("component"), col("csize"), col("quality"),
        (col("rn") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** Reproducible stratified sampling: keep a doc when its content-stable
    * hash bucket (sha256(doc_id) mod 100) falls under the stratum's rate —
    * 10% for the dominant 'en', 30% for the rest. No RNG state anywhere. */
  def q94(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("rate", when(col("lang") === "en", lit(10L)).otherwise(lit(30L)))
      .filter(col("bucket") < col("rate"))
      .select("doc_id", "lang", "source", "bucket", "rate")
      .orderBy("doc_id")

  /** Per-source exact-K cap — the "no domain may dominate the mix" guard a
    * training-data build runs before mixing: keep at most 5 docs per
    * source, chosen by content-stable sha256(doc_id) order (zero RNG
    * state — every rerun, partitioning and engine keeps the same rows;
    * resample = change the salt). q94 rate-samples WITHIN strata, q130
    * draws a global fixed k; this is the per-stratum fixed-k companion.
    *
    * Scale: one shuffle on source + the WindowGroupLimit per-group heap
    * ([[graft.api.Graft.topKPerGroup]]) — the `rn <= k` filter is pushed
    * into the window sort, so no group ever materializes fully sorted. */
  def q155(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.topKPerGroup(
        documents(s, d).select(col("doc_id"), col("source"))
          .withColumn("hkey", sha2(col("doc_id").cast("string"), 256)),
        Seq("source"), Seq(col("hkey"), col("doc_id")), 5, "rn")
      .select("doc_id", "source", "rn")
      .orderBy("doc_id")

  /** Quality-WEIGHTED reproducible sampling: keep a doc with probability
    * proportional to its q79 quality score (here quality*0.5), decided by
    * the same content-stable hash bucket as q94 — the "sample good data
    * more" mixing primitive, with zero RNG state: reruns, repartitions and
    * other engines keep exactly the same rows. Quality is r4-rounded
    * before the threshold compare, so the kept set is cross-engine exact.
    * At 100 TB the quality column would be precomputed once and stored;
    * the sampling itself is row-local. */
  def q104(s: SparkSession, d: String): DataFrame = {
    val qual = TextPipeline.q79(s, d).select(col("doc_id"), col("quality"))
    documents(s, d).select(col("doc_id"), col("lang")).join(qual, "doc_id")
      .withColumn("bucket", expr(
        "CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256), 1, 8), 16, 10) AS BIGINT) % 100"))
      .filter(col("bucket") < col("quality") * lit(50.0))
      .select("doc_id", "lang", "quality", "bucket")
      .orderBy("doc_id")
  }

  /** Exact-k token-weighted sampling without replacement (q104's fixed-size
    * companion): Efraimidis–Spirakis keys ln(u)/n_chars with u drawn from
    * sha256(doc_id) — longer documents win proportionally more often, the
    * draw is exactly 20 docs, and zero RNG state means any cluster, any
    * partitioning, any rerun (and the DuckDB oracle) picks the SAME rows.
    * Keys pinned to 10 dp before ranking so a last-ulp ln() difference
    * between math libraries cannot reorder the boundary; the plan is a
    * row-local key + TakeOrderedAndProject. */
  def q130(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.weightedSampleK(
        documents(s, d).select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), 20)
      .select(col("doc_id"), col("n_chars"), col("es_key"))

  /** The END-TO-END curation pipeline in one query — the composition a
    * real training-data build runs: near-dup resolution (keep each
    * cluster's best doc, q101) → quality floor (q79 score ≥ 0.4) →
    * context-window packing of the survivors (q96's streaming-greedy
    * chunks). Output is the training manifest: (source, chunk_id, doc_id,
    * tokens). Every stage is the already-verified operator — this key
    * exists to prove the operators COMPOSE without re-deriving anything
    * (components and quality both come from session memos). */
  def q105(s: SparkSession, d: String): DataFrame = {
    val surv = q101(s, d)
      .filter(col("keep") && col("quality") >= lit(0.4))
      .select("doc_id")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("tokens"))
      .join(surv, "doc_id")
      .withColumn("cum_tokens", sum("tokens").over(w))
      .withColumn("chunk_id",
        floor((col("cum_tokens") - col("tokens")) / lit(2048)).cast("long"))
      .select("source", "chunk_id", "doc_id", "tokens")
      .orderBy("source", "doc_id")
  }

  /** Benchmark DECONTAMINATION: flag corpus documents that share any 5-word
    * shingle with a held-out benchmark set (here: doc_id < 10 stands in for
    * the eval suite) — the overlap check every training-data build runs
    * before shipping. Inverted-index shape: join on the shingle key, never
    * doc-to-doc; the benchmark side is eval-suite-sized (thousands of docs,
    * not corpus-sized) so it is the one side that genuinely qualifies for a
    * forced broadcast, making the whole check a map-side pass over the
    * corpus shingle stream. Reuses the [[TextPipeline.shingles5]] memo. */
  def q106(s: SparkSession, d: String): DataFrame = {
    val sh = TextPipeline.shingles5(s, d)
    graft.api.Graft.decontaminate(sh.filter(col("doc_id") >= 10),
        sh.filter(col("doc_id") < 10), "sh", "doc_id")
      .orderBy("doc_id")
  }

  /** Token-budget MIXTURE sampling: fill a fixed per-source token budget
    * (1024 tokens — binding at every test SF) greedily, taking docs in
    * content-stable-hash order — the
    * "give me this many tokens from each domain" primitive of training-mix
    * construction. The hash order is a reproducible shuffle (no RNG state,
    * stable across engines/partitionings, same discipline as q94); the
    * greedy fill admits the doc that crosses the budget line, like q96's
    * packer. One window per source partition; linear. */
  def q109(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.tokenBudgetFill(
        documents(s, d).select(col("doc_id"), col("source"),
          regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("tokens"),
          substring(sha2(col("doc_id").cast("string"), 256), 1, 8).as("hb")),
        "source", Seq(col("hb"), col("doc_id")), "tokens", 1024L)
      .select("source", "doc_id", "hb", "tokens", "cum_tokens")
      .orderBy("source", "doc_id")

  /** Sequence packing: assign docs (ordered by doc_id within source) to
    * fixed 2048-token training chunks by running token count; a doc's chunk
    * is floor(tokens-before-it / 2048) — the streaming-greedy packing. */
  def q96(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.packSequences(
        documents(s, d).select(col("doc_id"), col("source"),
          regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("tokens")),
        "source", "doc_id", "tokens", 2048L)
      .select("source", "chunk_id", "doc_id", "tokens", "cum_tokens")
      .orderBy("source", "doc_id")

  /** Overlapping fixed-size chunking (the RAG / training-window shape):
    * 64-word chunks at stride 48 (16-word overlap), one output row per
    * chunk with its word count and content hash. Row-linear: chunk starts
    * come from a per-doc `sequence` explode — fan-out is len/stride, no
    * join, no shuffle beyond the final order. */
  def q46(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.chunkOverlap(TextPipeline.docWords(s, d), "words", 64, 48)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_words"),
        sha2(array_join(col("chunk"), " "), 256).as("chunk_sha"))
      .orderBy("doc_id", "chunk_idx")

  /** Identifier/PII scrubbing: redact digit-run identifiers (≥4 digits) in
    * free-text fields and count the redactions — the pre-training scrub
    * pass. Row-local regex, codegen'd, no shuffle; the same
    * `regexp_replace` chain takes email/phone/URL patterns at 100 TB. */
  def q56(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey"), col("c_name"),
        regexp_replace(col("c_name"), "[0-9]{4,}", "<ID>").as("scrubbed"),
        regexp_count(col("c_name"), lit("[0-9]{4,}")).cast("long").as("n_ids"))
      .orderBy("c_custkey")

  /** Corpus heavy hitters: top-20 tokens by frequency with corpus share —
    * stopword discovery / vocabulary pruning. Two aggregations (map-side
    * partial combine on the token key) + `TakeOrderedAndProject` for the
    * top-k; the single-row total is the only broadcast. */
  def q69(s: SparkSession, d: String): DataFrame = {
    val words = TextPipeline.words1(s, d).select(col("w"))
    val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = words.agg(count(lit(1)).as("n"))
    freq.crossJoin(broadcast(total))
      .select(col("w"), col("c"), r5(col("c") / col("n").cast("double")).as("share"))
      .orderBy(col("c").desc, col("w")).limit(20)
  }

  /** Sketch-based heavy hitters via Spark 4's `approx_top_k` — ONE
    * partial-aggregating pass with bounded state (vs q69's exact two-agg
    * formulation). With `maxItemsTracked` ≥ the true vocabulary (31 words
    * here at every SF) the sketch is EXACT, which makes this the rare
    * sketch key with a SQL oracle; when the vocabulary overflows the
    * tracker at true corpus scale the same query degrades gracefully to
    * approximate counts instead of blowing memory. */
  def q49(s: SparkSession, d: String): DataFrame =
    TextPipeline.words1(s, d).select(col("w"))
      // fetch the sketch's FULL tracked set, then take the top 20 with a
      // deterministic (count desc, word) sort on our side: a count tie at
      // the rank-20/21 boundary inside approx_top_k would otherwise pick an
      // arbitrary tied item and break oracle parity
      .agg(expr("approx_top_k(w, 10000, 10000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("w"), col("e.count").cast("long").as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(20)

  /** Leakage-free temporal train/valid/test split manifest: each user's
    * events ordered by event time, first 70% → train, next 15% → valid,
    * rest → test (integer boundary arithmetic rn·100 ≤ cnt·70 — no float
    * ever enters the assignment). Splitting WITHIN each user's own
    * timeline (not one global cutoff) is the standard recommender
    * evaluation protocol: every user contributes history to train and
    * future to test, and nothing in test precedes its user's train rows —
    * the temporal-leakage gate run before any q65/q66-style fit.
    *
    * Scale: one (user|ts) window shuffle assigns every row; the manifest
    * is a 3-row aggregate. The per-user ordering key includes event_id so
    * equal timestamps cannot flip splits across engines/partitionings. */
  def q135(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts div 1000").as("us"),
      itemFromProps.as("item"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val tagged = e
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("split",
        when(col("rn") * 100 <= col("cnt") * 70, "train")
          .when(col("rn") * 100 <= col("cnt") * 85, "valid")
          .otherwise("test"))
    tagged.groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("item")).as("n_items"),
        min("us").as("min_us"), max("us").as("max_us"))
      .orderBy("split")
  }

  /** Ordered curation-filter cascade with per-stage pass accounting — the
    * observability wrapper every production filter pipeline runs: each
    * gate (minimum length → trigram-repetition cap → PII rejection →
    * stopword-density floor) sees only the survivors of the previous one,
    * and the report is n_in/n_pass/pass_rate per stage — the numbers a
    * pipeline owner reads to see WHERE the corpus is being lost. Gates
    * reuse the inventory's own primitives verbatim (q79 tokenization and
    * stopword list, q98 trigram dup_ratio, q219 PII regexes), so the
    * cascade is the composed form of already-verified filters, like q105
    * composes dedup+quality.
    *
    * Determinism: every gate compares exact integers or exact integer
    * ratios (dup_ratio and stop_ratio are integer/integer divisions of
    * identical counts — same IEEE double both engines; thresholds are
    * exact binary fractions or far from any achievable ratio); pass
    * counts are exact longs; pass_rate pins at 4 dp. Scale: one
    * row-linear flag computation per doc (the trigram stats are a
    * doc-grain agg) then a single 4-conjunction fold to one row,
    * stacked to 4 — no window, no join wider than doc-grain. */
  def q234(s: SparkSession, d: String): DataFrame = {
    val tri = TextPipeline.docWords(s, d)
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 2), i -> array_join(slice(words, i, 3), ' '))"))
        .as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tri"), count(lit(1)).as("n_dis"))
    val flags = documents(s, d)
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(expr("filter(split(lower(text), ' '), w -> w != '')"))
          .cast("long").as("n_words"),
        // docs with <3 words have no trigrams: dup_ratio 0 (vacuously clean)
        coalesce(lit(1.0) - col("n_dis").cast("double") / col("n_tri").cast("double"),
          lit(0.0)).as("dup_ratio"),
        (regexp_count(lower(col("text")), lit("[a-z0-9._%-]+@[a-z0-9.-]+")) +
          regexp_count(col("text"), lit("[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}")) +
          regexp_count(col("text"), lit("[0-9]{8,}"))).cast("long").as("pii"),
        expr("CAST(size(filter(split(lower(text), ' '), " +
          "w -> w IN ('the', 'a', 'of', 'in', 'and', 'to'))) AS DOUBLE) " +
          "/ nullif(CAST(size(filter(split(lower(text), ' '), w -> w != '')) AS DOUBLE), 0e0)").as("stop_ratio"))
      .select(col("doc_id"),
        (col("n_words") >= 30).as("f1"),
        (col("dup_ratio") <= 0.25).as("f2"),
        (col("pii") === 0).as("f3"),
        (col("stop_ratio") >= 0.02).as("f4"))
    val agg = flags.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("p1"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("p2"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("p3"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L).otherwise(0L)).as("p4"))
    agg.selectExpr(
        """stack(4,
          |  1L, 'min_words',   n0, p1,
          |  2L, 'low_dup',     p1, p2,
          |  3L, 'no_pii',      p2, p3,
          |  4L, 'stop_density', p3, p4) AS (stage_id, stage, n_in, n_pass)""".stripMargin)
      .withColumn("pass_rate", r4(when(col("n_in") === 0, null)
        .otherwise(col("n_pass").cast("double") / col("n_in").cast("double"))))
      .orderBy("stage_id")
  }

  /** Count–min sketch accuracy audit on the item stream: a 4×64 CMS
    * built from salted sha-bucket counts (zero RNG — reproducible on any
    * cluster, and each cell is a plain map-side-combinable COUNT, the
    * mergeability that makes CMS the streaming/mapside heavy-hitter
    * sketch beside q49's tracked-set approx_top_k and q69's exact
    * heavy hitters), then each top-10 exact item's estimate = min over
    * the 4 rows of its cell counts. CMS never underestimates, so
    * `overestimate` ≥ 0 row by row — the sketch's error bound made
    * visible against ground truth at this width.
    *
    * Determinism: buckets are sha2 arithmetic on the item id salted by
    * the row index; all counts exact longs. Scale: the sketch build is
    * ONE 4×-exploded hash agg to 256 cells; ground truth is the q61
    * popularity agg; the estimate join touches 10×4 cells. */
  def q262(s: SparkSession, d: String): DataFrame = {
    val items = events(s, d)
      .select(itemFromProps.as("item"))
    val rows4 = items.crossJoin(broadcast(s.range(0, 4).toDF("r")))
      .select(col("r"),
        graft.api.Graft.hashBucket(concat(col("item"), lit("#"), col("r")), 64)
          .as("b"))
    val cells = rows4.groupBy("r", "b").agg(count(lit(1)).as("c"))
    val exact = items.groupBy("item").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("item")).limit(10)
    val probes = exact.crossJoin(broadcast(s.range(0, 4).toDF("r")))
      .select(col("item"), col("exact"), col("r"),
        graft.api.Graft.hashBucket(concat(col("item"), lit("#"), col("r")), 64)
          .as("b"))
    probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy("item", "exact").agg(min("c").as("cms_est"))
      .select(col("item"), col("exact"), col("cms_est"),
        (col("cms_est") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("item"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q262_countmin_sketch" -> q262,
    "q234_filter_cascade" -> q234,
    "q135_temporal_split" -> q135,
    "q46_doc_chunk_overlap" -> q46,
    "q49_approx_topk_sketch" -> q49,
    "q56_scrub_ids" -> q56,
    "q69_heavy_hitters" -> q69,
    "q92_minhash_kmv" -> q92,
    "q93_dedup_components" -> q93,
    "q101_dedup_cluster_keep" -> q101,
    "q94_sample_stratified" -> q94,
    "q155_sample_per_group" -> q155,
    "q104_sample_weighted" -> q104,
    "q130_sample_weighted_k" -> q130,
    "q105_curation_pipeline" -> q105,
    "q106_decontaminate" -> q106,
    "q109_token_budget_mix" -> q109,
    "q96_pack_sequences" -> q96)

  private val wordsCte = s"w AS (${TextPipeline.wordsSql})"
  private val shCte = s"sh AS (${TextPipeline.shinglesSql})"

  val oracle: Map[String, String] = Map(
    "q262_countmin_sketch" ->
      s"""WITH items AS (SELECT TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |  FROM events),
         |rx AS (SELECT item, t.r AS r,
         |    ('0x' || substr(sha256(CAST(item AS VARCHAR) || '#' || CAST(t.r AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
         |  FROM items CROSS JOIN generate_series(0, 3) t(r)),
         |cells AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
         |  FROM rx GROUP BY 1, 2),
         |exact AS (SELECT item, CAST(count(*) AS BIGINT) AS exact
         |  FROM items GROUP BY 1 ORDER BY exact DESC, item LIMIT 10),
         |probes AS (SELECT e.item, e.exact, t.r,
         |    ('0x' || substr(sha256(CAST(e.item AS VARCHAR) || '#' || CAST(t.r AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
         |  FROM exact e CROSS JOIN generate_series(0, 3) t(r))
         |SELECT p.item, p.exact, CAST(min(c.c) AS BIGINT) AS cms_est,
         |  CAST(min(c.c) - p.exact AS BIGINT) AS overestimate
         |FROM probes p JOIN cells c USING (r, b)
         |GROUP BY 1, 2 ORDER BY exact DESC, item""".stripMargin,
    "q234_filter_cascade" ->
      s"""WITH $wordsCte,
         |tri AS (SELECT doc_id, t, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS t
         |    FROM w WHERE len(words) >= 3) GROUP BY 1, 2),
         |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
         |    count(*) AS n_dis FROM tri GROUP BY 1),
         |fl AS (SELECT d.doc_id,
         |    len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n_words,
         |    coalesce(1e0 - CAST(n_dis AS DOUBLE) / CAST(n_tri AS DOUBLE), 0e0) AS dup_ratio,
         |    len(regexp_extract_all(lower(text), '[a-z0-9._%-]+@[a-z0-9.-]+'))
         |      + len(regexp_extract_all(text, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
         |      + len(regexp_extract_all(text, '[0-9]{8,}')) AS pii,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x IN ('the', 'a', 'of', 'in', 'and', 'to'))) AS DOUBLE)
         |      / nullif(CAST(len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS DOUBLE), 0e0) AS stop_ratio
         |  FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id),
         |fb AS (SELECT n_words >= 30 AS f1, dup_ratio <= 0.25e0 AS f2,
         |    pii = 0 AS f3, stop_ratio >= 0.02e0 AS f4 FROM fl),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         |    CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         |    CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
         |    CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS p4
         |  FROM fb),
         |sel AS (
         |  SELECT CAST(1 AS BIGINT) AS stage_id, 'min_words' AS stage,
         |    n0 AS n_in, p1 AS n_pass FROM a
         |  UNION ALL SELECT 2, 'low_dup', p1, p2 FROM a
         |  UNION ALL SELECT 3, 'no_pii', p2, p3 FROM a
         |  UNION ALL SELECT 4, 'stop_density', p3, p4 FROM a)
         |SELECT stage_id, stage, n_in, n_pass,
         |  CASE WHEN n_in = 0 THEN NULL
         |    ELSE ${sr4("CAST(n_pass AS DOUBLE) / CAST(n_in AS DOUBLE)")} END AS pass_rate
         |FROM sel ORDER BY stage_id""".stripMargin,
    "q135_temporal_split" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item FROM events),
        |tagged AS (SELECT user_id, item, us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM ev)
        |SELECT CASE WHEN rn * 100 <= cnt * 70 THEN 'train'
        |            WHEN rn * 100 <= cnt * 85 THEN 'valid'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT item) AS n_items,
        |  min(us) AS min_us, max(us) AS max_us
        |FROM tagged GROUP BY 1 ORDER BY split""".stripMargin,
    "q46_doc_chunk_overlap" ->
      s"""WITH $wordsCte,
         |ix AS (SELECT doc_id, words,
         |    unnest(generate_series(0, CAST(floor((len(words) - 1) / 48) AS BIGINT))) AS chunk_idx
         |  FROM w WHERE len(words) >= 1)
         |SELECT doc_id, chunk_idx,
         |  CAST(least(64, len(words) - chunk_idx * 48) AS BIGINT) AS n_chunk_words,
         |  sha256(array_to_string(
         |    list_slice(words, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_sha
         |FROM ix ORDER BY doc_id, chunk_idx""".stripMargin,
    "q49_approx_topk_sketch" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(words) AS w FROM w),
         |f AS (SELECT w, count(*) AS c FROM tok GROUP BY 1)
         |SELECT w, c FROM f ORDER BY c DESC, w LIMIT 20""".stripMargin,
    "q56_scrub_ids" ->
      """SELECT c_custkey, c_name,
        |  regexp_replace(c_name, '[0-9]{4,}', '<ID>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS BIGINT) AS n_ids
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q69_heavy_hitters" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(words) AS w FROM w),
         |f AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         |t AS (SELECT count(*) AS n FROM tok)
         |SELECT w, c, ${sr5("c / CAST(n AS DOUBLE)")} AS share
         |FROM f, t ORDER BY c DESC, w LIMIT 20""".stripMargin,
    "q92_minhash_kmv" ->
      s"""WITH $wordsCte,
         |$shCte,
         |h AS (SELECT doc_id, sha256(sh) AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM h GROUP BY 1),
         |kept AS (SELECT doc_id, h FROM (
         |    SELECT doc_id, h, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY h) AS rn FROM h) WHERE rn <= 8),
         |agg AS (SELECT doc_id,
         |    array_to_string(list(substr(h, 1, 16) ORDER BY h), ',') AS sig,
         |    max(('0x' || substr(h, 1, 12))::BIGINT / 281474976710656e0) AS kth_frac
         |  FROM kept GROUP BY 1)
         |SELECT a.doc_id, s.n_shingles, a.sig,
         |  ${sr2("CASE WHEN s.n_shingles >= 8 THEN 7e0 / a.kth_frac ELSE CAST(s.n_shingles AS DOUBLE) END")} AS est_distinct
         |FROM agg a JOIN sizes s ON a.doc_id = s.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    "q93_dedup_components" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shCte,
         |fp AS (SELECT doc_id, min(sha256(sh)) AS fp_min, max(sha256(sh)) AS fp_max
         |  FROM sh GROUP BY 1),
         |mem AS (SELECT doc_id, fp_min AS bucket FROM fp
         |  UNION ALL SELECT doc_id, fp_max FROM fp),
         |edges AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM mem a JOIN mem b ON a.bucket = b.bucket),
         |reach(src, dst) AS (SELECT doc_id, doc_id FROM fp
         |  UNION SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da),
         |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
         |sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
         |SELECT c.doc_id, c.component, s.csize
         |FROM comp c JOIN sizes s ON c.component = s.component
         |ORDER BY doc_id""".stripMargin,
    "q101_dedup_cluster_keep" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shCte,
         |fp AS (SELECT doc_id, min(sha256(sh)) AS fp_min, max(sha256(sh)) AS fp_max
         |  FROM sh GROUP BY 1),
         |mem AS (SELECT doc_id, fp_min AS bucket FROM fp
         |  UNION ALL SELECT doc_id, fp_max FROM fp),
         |edges AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM mem a JOIN mem b ON a.bucket = b.bucket),
         |reach(src, dst) AS (SELECT doc_id, doc_id FROM fp
         |  UNION SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da),
         |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
         |sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1),
         |qual AS (SELECT doc_id, quality FROM
         |  (${TextPipeline.oracle("q79_text_quality")}) q79full)
         |SELECT c.doc_id, c.component, s.csize, q.quality,
         |  (row_number() OVER (PARTITION BY c.component
         |     ORDER BY q.quality DESC, c.doc_id)) = 1 AS keep
         |FROM comp c JOIN sizes s ON c.component = s.component
         |JOIN qual q ON c.doc_id = q.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "q130_sample_weighted_k" ->
      s"""WITH k AS (SELECT doc_id, n_chars,
         |    ((('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
         |      / 4294967296e0) AS u
         |  FROM documents)
         |SELECT doc_id, n_chars,
         |  ${sqlRnd("ln(u) / nullif(CAST(n_chars AS DOUBLE), 0e0)", 10)} AS es_key
         |FROM k
         |ORDER BY ${sqlRnd("ln(u) / nullif(CAST(n_chars AS DOUBLE), 0e0)", 10)} DESC, doc_id
         |LIMIT 20""".stripMargin,
    "q155_sample_per_group" ->
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "q94_sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang, source,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
        |    CASE WHEN lang = 'en' THEN 10 ELSE 30 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, source, bucket, CAST(rate AS BIGINT) AS rate
        |FROM b WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "q105_curation_pipeline" ->
      s"""WITH RECURSIVE $wordsCte,
         |$shCte,
         |fp AS (SELECT doc_id, min(sha256(sh)) AS fp_min, max(sha256(sh)) AS fp_max
         |  FROM sh GROUP BY 1),
         |mem AS (SELECT doc_id, fp_min AS bucket FROM fp
         |  UNION ALL SELECT doc_id, fp_max FROM fp),
         |edges AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM mem a JOIN mem b ON a.bucket = b.bucket),
         |reach(src, dst) AS (SELECT doc_id, doc_id FROM fp
         |  UNION SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da),
         |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
         |qual AS (SELECT doc_id, quality FROM
         |  (${TextPipeline.oracle("q79_text_quality")}) q79full),
         |keeprn AS (SELECT c.doc_id, q.quality, row_number() OVER (
         |    PARTITION BY c.component ORDER BY q.quality DESC, c.doc_id) AS rn
         |  FROM comp c JOIN qual q ON c.doc_id = q.doc_id),
         |surv AS (SELECT doc_id FROM keeprn WHERE rn = 1 AND quality >= 0.4e0),
         |t AS (SELECT d.doc_id, d.source,
         |    CAST(len(regexp_extract_all(d.text, '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS tokens
         |  FROM documents d JOIN surv USING (doc_id)),
         |c2 AS (SELECT doc_id, source, tokens,
         |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT source, CAST(floor((cum_tokens - tokens) / 2048) AS BIGINT) AS chunk_id,
         |  doc_id, tokens
         |FROM c2 ORDER BY source, doc_id""".stripMargin,
    "q104_sample_weighted" ->
      s"""WITH qual AS (SELECT doc_id, quality FROM
         |  (${TextPipeline.oracle("q79_text_quality")}) q79full),
         |b AS (SELECT d.doc_id, d.lang, q.quality,
         |    ('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents d JOIN qual q ON d.doc_id = q.doc_id)
         |SELECT doc_id, lang, quality, bucket
         |FROM b WHERE bucket < quality * 50e0 ORDER BY doc_id""".stripMargin,
    "q106_decontaminate" ->
      s"""WITH $wordsCte,
         |$shCte,
         |b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id < 10),
         |c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 10)
         |SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared,
         |  count(DISTINCT b.bench_id) AS n_bench
         |FROM c JOIN b USING (sh) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q109_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tokens,
        |    substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS hb
        |  FROM documents),
        |c AS (SELECT doc_id, source, hb, tokens,
        |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY hb, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, hb, tokens, cum_tokens
        |FROM c WHERE cum_tokens - tokens < 1024 ORDER BY source, doc_id""".stripMargin,
    "q96_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, tokens,
        |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, CAST(floor((cum_tokens - tokens) / 2048) AS BIGINT) AS chunk_id,
        |  doc_id, tokens, cum_tokens
        |FROM c ORDER BY source, doc_id""".stripMargin)
}
