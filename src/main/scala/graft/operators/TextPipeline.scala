package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended LLM-training-data text/vector operators beyond §2.8b's core
  * five: the remaining dedup family (n-gram Jaccard, embedding-cosine,
  * SimHash), text analysis (language-ID, quality scoring, token counting,
  * document fingerprinting), and the IVF-bucketed similarity-search scale
  * path. All oracle-backed.
  *
  * Scale notes:
  * - q76 (n-gram Jaccard) is inverted-index dedup: explode rare shingles,
  *   join on shingle, count shared — never text-to-text comparison. The
  *   common-shingle df cap (≤50 docs) bounds each posting list, so the
  *   pair fan-out is Σ df² over rare shingles, near-linear in corpus size.
  * - q77 (cosine near-dup) is the exact all-pairs baseline — quadratic,
  *   correct at test scale; q85 is the IVF-bucketed rewrite that scales
  *   (assign to nearest coarse centroid, search only that cell).
  * - q86 (SimHash) is the constant-space near-dup sketch: one 48-bit
  *   signature per doc, banded 4×12 bits so candidate pairs share a band
  *   bucket — the join is on (band, value), never all-pairs.
  * - Language-ID profiles and IVF centroids are corpus-derived dimension-
  *   sized tables → broadcast.
  */
object TextPipeline {

  /** Lower-cased non-empty word arrays, the shared text normalization.
    * r15 session 2: memoized+cached — ~10 keys re-ran the scan+lower+split
    * per execution (q79, q98, q167, q199, q234, q240, the BM25/ngram
    * Retrieval keys), and the memo chain feeding [[words1]] built its
    * cache from the single-split documents scan, leaving words1 CACHED AT
    * ONE PARTITION (measured r14: 270,704 token rows,
    * cached_partitions=1 at sf0.1) — every consumer's first pipeline
    * stage ran serial at any core count (the r14 events-cache disease on
    * the text family). The build spreads by doc_id, sized to the CORPUS
    * TOKEN COUNT (one row-local agg, memoized per session — consumers'
    * per-row cost here is per-token, so tokens are the right row unit;
    * guide §2.5: partitions sized to data, not cores); words1's narrow
    * explode inherits the layout. */
  private[graft] def docWords(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "docwords") {
      // `source` rides along only when the corpus has it (the real corpus
      // does; synthetic test fixtures may not) — source-needing consumers
      // (q199/q226/q237/q239) fail on sourceless corpora exactly as their
      // old direct documents scans did, while the others stay fixture-safe
      val base = documents(s, d)
      val cols = Seq(col("doc_id"), col("lang")) ++
        (if (base.columns.contains("source")) Seq(col("source")) else Nil) :+
        expr("filter(split(lower(text), ' '), w -> w != '')").as("words")
      val raw = base.select(cols: _*)
      graft.Tables.spreadNarrow(s, raw, col("doc_id"),
        graft.Tables.value(s, graft.Tables.memoName(d, "tokencount")) {
          documents(s, d).agg(coalesce(sum(
            size(expr("filter(split(lower(text), ' '), w -> w != '')"))
              .cast("long")), lit(0L))).head().getLong(0)
        })
    }

  private[operators] val wordsSql =
    "SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), w -> w != '') AS words FROM documents"

  /** Exploded (doc_id, lang, w) token stream — shared by the word-frequency
    * family (q68 TF-IDF, q69/q49 heavy hitters, q78 language-ID, q99
    * log-prob). Memoized+cached like [[shingles5]]: each consumer references
    * the stream 2–3 times inside ONE plan (tf agg + df/total agg + join
    * probe), so without the cache every reference re-runs the
    * scan+split+explode over the corpus. */
  private[graft] def words1(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "words1") {
      docWords(s, d)
        .select(col("doc_id"), col("lang"), explode(col("words")).as("w"))
    }

  /** Distinct 5-word shingles per doc (docs with <5 words drop out) — the
    * shared unit of the shingle-based dedup family (q76/q84/q92/q93).
    * Memoized+cached: four queries re-derive it, and the distinct is a
    * full shuffle of the exploded shingle set. */
  private[graft] def shingles5(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "shingles5") {
      docWords(s, d)
        .filter(size(col("words")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(words) - 4), i -> array_join(slice(words, i, 5), ' '))"))
          .as("sh"))
        .distinct()
    }

  /** COMPACT 64-bit shingle grain — (doc_id, shh = xxhash64(shingle)) — the
    * storage format of the shingle set wherever only equality/counting
    * semantics are needed (the pair-intersection family: q76/q129/q138/
    * q270 via [[shinglePairCounts]]). The sha256-fingerprint keys (q84/
    * q92/q93/q106) keep the string grain [[shingles5]]; their oracles pin
    * sha2 of the TEXT.
    *
    * Why (r10 SCALING, ×1000 = 5 M docs): the string grain's cache is
    * ~45 B/row and goes DISK-RESIDENT in the third decade — the measured
    * 18.9× q76 curve is that memory ceiling, not plan shape. Hashing
    * before the distinct cuts the cached grain and every downstream
    * shuffle to 16 B/row (the q257 compact-signature route applied to
    * storage). Distinctness: 64-bit collisions WITHIN a doc would merge
    * two shingles (and across docs add a phantom intersection); at the
    * ×1000 corpus (~10⁸ distinct shingles) the birthday bound puts any
    * collision at ~10⁻³ and the correctness SFs at <10⁻⁸ — and the hash
    * is deterministic, so the differential gate would expose one, not
    * mask it. */
  private[graft] def shingles5h(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "shingles5h") {
      docWords(s, d)
        .filter(size(col("words")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(words) - 4), i -> xxhash64(array_join(slice(words, i, 5), ' ')))"))
          .as("shh"))
        .distinct()
    }

  /** DuckDB twin of [[shingles5]] — assumes a `w` CTE from [[wordsSql]]. */
  private[operators] val shinglesSql =
    """SELECT DISTINCT doc_id, s AS sh FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 4),
      |      i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS s
      |    FROM w WHERE len(words) >= 5)""".stripMargin

  /** Undirected shared-shingle counts over the df≤50-pruned inverted
    * index — the common pair relation of the resemblance (q76) and
    * containment (q129) dedup keys: (doc_a < doc_b, |Sₐ∩S_b|). Memoized:
    * the posting-list self-join is both keys' dominant cost, and
    * containment's directed pairs are exactly these rows mirrored
    * (shared-count is symmetric). */
  private[operators] def shinglePairCounts(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "shpairs50") {
      // the 64-bit grain: every operation here is equality + count, and the
      // posting-list self-join is the family's dominant shuffle — 16 B keys
      // instead of ~45 B strings (see [[shingles5h]])
      val sh = shingles5h(s, d)
      val rare = sh.groupBy("shh").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
      val pruned = sh.join(rare.select("shh"), "shh")
      pruned.select(col("doc_id").as("doc_a"), col("shh"))
        .join(pruned.select(col("doc_id").as("doc_b"), col("shh")), "shh")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    }

  /** Per-doc distinct-shingle counts — the Jaccard denominators. Shared
    * by q76/q138/q270 (r15): each built it inline, and q270 referenced it
    * FOUR times (two sides × truth used twice) with AQE never reusing the
    * agg above the shingles5h cache (Graft.collectBounds scaladoc), so
    * one bench pass ran this doc-grain aggregation ~8×. */
  private[operators] def shSizes(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "shsizes") {
      shingles5h(s, d).groupBy("doc_id").agg(count(lit(1)).as("n"))
    }

  /** SimHash 4×12-bit banded candidate PAIRS (doc_a < doc_b, distinct) —
    * the LSH screen shared by q86/q138/q270 (r15): each rebuilt the
    * band-explode self-join inline per reference. Pair-only schema so one
    * memo serves all three; q86 re-attaches the signatures with two
    * doc-grain joins (cheaper than re-running the banded join). */
  private[operators] def bandCand48(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "bandcand48") {
      val banded = simhash48(s, d).select(col("doc_id"), col("simhash"),
          explode(expr("sequence(0, 3)")).as("b"))
        .withColumn("bv", expr("(simhash >> (12 * b)) & 4095"))
      banded.select(col("doc_id").as("doc_a"), col("b"), col("bv"))
        .join(banded.select(col("doc_id").as("doc_b"), col("b"), col("bv")),
          Seq("b", "bv"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }

  /** Exact n-gram Jaccard dedup: distinct 5-word shingles, inverted-index
    * join with a df≤50 common-shingle cap, pairs with Jaccard ≥ 0.4. */
  def q76(s: SparkSession, d: String): DataFrame = {
    val sizes = shSizes(s, d)
    shinglePairCounts(s, d)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac", r5(col("shared") / (col("na") + col("nb") - col("shared"))))
      .filter(col("jac") >= 0.4)
      .select("doc_a", "doc_b", "shared", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup: exact all-pairs baseline at cosine ≥ 0.5
    * (this corpus's max pairwise cosine is ~0.6; see q85 for the scale path). */
  def q77(s: SparkSession, d: String): DataFrame = {
    graft.plans.CosineSim.register(s)
    // r15: the shared ANN vector memo (identical projection) instead of
    // re-running the scan + per-element cast on both self-join sides
    val e = graft.operators.Retrieval.embVecs(s, d)
    e.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        col("vec_a") < col("vec_b"))
      .withColumn("cos", r5(expr("cosine_sim(va, vb)")))
      .filter(col("cos") >= 0.5)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** Language-ID via corpus-derived word profiles: top-20 words per language
    * by frequency, classify each doc by distinct-word overlap (argmax score,
    * ties → alphabetical language). Deterministic n-gram-style heuristic. */
  def q78(s: SparkSession, d: String): DataFrame = {
    val words = words1(s, d)
    val prof = words.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("w"))))
      .filter(col("rn") <= 20)
      .select(col("lang").as("plang"), col("w"))
    val docDistinct = words.select("doc_id", "w").distinct()
    val scores = docDistinct.join(broadcast(prof), "w")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("score"))
    scores.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))))
      .filter(col("rn") === 1)
      .join(documents(s, d).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("plang").as("pred_lang"), col("lang").as("actual_lang"),
        (col("plang") === col("lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION MATRIX — the quality measurement on top of
    * q78's classifier: per (actual, predicted) language pair, the doc
    * count and the share of the actual language's docs (row-normalized),
    * the readout that tells a corpus build WHICH languages its cheap
    * n-gram classifier confuses before it routes documents by `pred_lang`
    * (accuracy alone hides asymmetric confusions). Exact integer counts;
    * the share is an int/int division under the 4 dp pin. Scale: q78's
    * vocabulary-profile machinery plus a lang²-sized aggregation. */
  def q161(s: SparkSession, d: String): DataFrame =
    // one aggregate of the classifier, row-normalized by a window over its
    // own rows: q78 is referenced once, so its subtree runs once without a
    // memo (and Catalyst drops q78's ORDER BY under the aggregate). The
    // aggregate is lang²-sized at any corpus size, so it is coalesced to
    // one partition, which serves both the window and the sort with no
    // further exchange.
    q78(s, d).groupBy("actual_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .coalesce(1)
      .withColumn("n_actual", sum("n").over(Window.partitionBy("actual_lang")))
      .select(col("actual_lang"), col("pred_lang"), col("n"),
        r4(col("n").cast("double") / col("n_actual").cast("double"))
          .as("share"))
      .orderBy("actual_lang", "pred_lang")

  /** Quality scoring: length/punctuation/stopword ratios combined into a
    * [0,1] score ([[graft.api.Graft.qualityScore]], with its two ratios
    * reported beside it). All ratios are exact int/int divisions →
    * cross-engine deterministic; the score formula is identical text in
    * both engines. */
  def q79(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: the word-derived ratios read the cached `words`
    // arrays instead of re-splitting text (docWords filters empties, so
    // size(words) and the stopword count are the identical values; the
    // lower() the old inline split applied is a no-op for the stopword
    // membership test on already-lowercased words)
    val (text, words) = (col("text"), col("words"))
    docWords(s, d)
      .join(documents(s, d).select("doc_id", "text", "n_chars"), "doc_id")
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        expr("CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE) " +
          "/ nullif(CAST(size(words) AS DOUBLE), 0e0)").as("avg_wlen_raw"),
        graft.api.Graft.punctRatio(text).as("punct_ratio_raw"),
        graft.api.Graft.stopwordRatio(words).as("stop_ratio_raw"),
        graft.api.Graft.qualityScore(text, words).as("quality_raw"))
      .select(col("doc_id"), col("n_words"),
        r2(col("avg_wlen_raw")).as("avg_wlen"),
        r4(col("punct_ratio_raw")).as("punct_ratio"),
        r4(col("stop_ratio_raw")).as("stop_ratio"),
        r4(col("quality_raw")).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex (alnum runs or
    * single non-space symbols), chars-per-token ratio. */
  def q83(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        size(expr("filter(split(text, '\\\\s+'), w -> w != '')")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("bpe_tokens"),
        col("n_chars"))
      // nullif: an empty-text doc has 0 BPE tokens — null ratio, not 0/0
      .withColumn("chars_per_token",
        r4(col("n_chars").cast("double") /
          nullif(col("bpe_tokens").cast("double"), lit(0.0))))
      .orderBy("doc_id")

  /** Document fingerprinting: min/max SHA-256 over the doc's 5-word shingle
    * set (a 1-permutation MinHash signature with a cryptographic hash —
    * deterministic and collision-safe), plus the distinct-shingle count. */
  def q84(s: SparkSession, d: String): DataFrame =
    shingles5(s, d)
      .groupBy("doc_id")
      .agg(min(sha2(col("sh"), 256)).as("fp_min"),
        max(sha2(col("sh"), 256)).as("fp_max"),
        count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")

  /** IVF-bucketed similarity search — the 100 TB path for q71: coarse-
    * quantize with the per-label centroids (q73), assign each probe to its
    * nearest centroid, search ONLY that cell (nprobe=1) —
    * [[graft.api.Graft.ivfTopK]]. Cells are data-partitionable; the
    * probe-cell assignment is a broadcast join against the
    * dimension-sized centroid table. */
  def q85(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x").cast("double")).as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("cvec"))
      .withColumnRenamed("label", "cell")
    graft.api.Graft.ivfTopK(
        e.select(col("vec_id").as("cand_id"), col("v").as("c"), col("label").as("cell")),
        cent,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("p")),
        3, corpusId = "cand_id", corpusVec = "c", probeVec = "p")
      .select(col("probe_id"), col("cell"), col("rank").as("rnk"), col("cand_id"),
        r5(col("cos")).as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** SimHash near-dup: 48-bit signature (majority vote over per-feature
    * 48-bit hashes from sha2 prefixes), banded 4×12 bits for candidate
    * generation, pairs kept at Hamming distance ≤ 3. Features are 3-WORD
    * shingles, not single words: this corpus's shared vocabulary makes
    * single-word signatures nearly identical across all docs (measured: 12%
    * of ALL pairs within hamming 6), which would also degenerate the banded
    * join toward all-pairs at scale — the same lesson as q70's shingles. */
  /** 48-bit SimHash signature per doc (majority vote over the sha2 hashes
    * of its distinct 3-word shingles) — memoized: shared by q86 (Hamming
    * near-dup) and q138 (banded-candidate + exact-Jaccard verify). */
  private[operators] def simhash48(s: SparkSession, d: String): DataFrame =
    graft.Tables.memoized(s, d, "simhash48") {
      val wordHash = docWords(s, d)
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(words) - 2), i -> array_join(slice(words, i, 3), ' '))"))
          .as("w"))
        .distinct()
        .withColumn("h", expr("CAST(conv(substring(sha2(w, 256), 1, 12), 16, 10) AS BIGINT)"))
      // Majority vote per bit WITHOUT a 48x row explode: one hash-agg pass
      // computes all 48 ones-counts + the shingle count as partial
      // (map-side-combinable) sums; bit j is set iff ones_j > n/2, i.e.
      // 2*ones_j > n. Same signature as the explode formulation (votes > 0
      // <=> ones > n - ones), at 1/48th the aggregated row volume.
      val ones = (0 until 48).map(j => sum(expr(s"(h >> $j) & 1")).as(s"o$j"))
      val assemble = (0 until 48)
        .map(j => s"CASE WHEN 2 * o$j > n THEN ${1L << j}L ELSE 0L END")
        .mkString(" + ")
      wordHash
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), ones: _*)
        .select(col("doc_id"), expr(assemble).as("simhash"))
    }

  def q86(s: SparkSession, d: String): DataFrame = {
    val sig = simhash48(s, d)
    // r15: candidates from the shared bandCand48 memo; signatures
    // re-attach via two doc-grain joins (same pair set — the old inline
    // form carried (ha, hb) through the band join then distinct'd, which
    // is the identical (doc_a, doc_b, ha, hb) relation since simhash is
    // doc-functional)
    bandCand48(s, d)
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Two-stage production dedup: cheap LSH CANDIDATES, exact VERIFY —
    * SimHash band collisions propose pairs, exact 5-word-shingle Jaccard
    * confirms them (≥ 0.3). This is the shape every web-scale dedup ships:
    * the sketch join alone (q86) has false positives, the exact join alone
    * (q76) needs a df cap to stay sub-quadratic; candidates-then-verify
    * gets exactness on a near-linear candidate set. Fully oracle-checkable
    * because BOTH stages are deterministic sha2 functions of the text —
    * unlike q70's fitted MinHash model.
    *
    * Scale: stage 1 is the banded equi self-join on (band, 12-bit value) —
    * bucket-local, never all-pairs; stage 2 touches only candidate pairs,
    * joining each side's shingle set (intersection via one equi join on
    * the shingle, sizes via the shared memo). Candidates without shingles
    * (<5 words) cannot be verified and drop out, by design. */
  def q138(s: SparkSession, d: String): DataFrame = {
    val cand = bandCand48(s, d)
    val sh = shingles5h(s, d)
    val sizes = shSizes(s, d)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shh")), Seq("doc_b", "shh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac", r5(col("shared") / (col("na") + col("nb") - col("shared"))))
      .filter(col("jac") >= 0.3)
      .select("doc_a", "doc_b", "shared", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Repetition filter (the Gopher-rules shape): per doc, the duplicate
    * share of its 3-gram stream and the hottest trigram's count — documents
    * that repeat themselves score high and get filtered before training.
    * Row-linear: explode + two-level aggregation, no joins. */
  def q98(s: SparkSession, d: String): DataFrame = {
    val tri = docWords(s, d)
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 2), i -> array_join(slice(words, i, 3), ' '))"))
        .as("tri"))
    tri.groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_tri_count"))
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
        col("max_tri_count"),
        r4(lit(1.0) - col("n_distinct") / col("n_trigrams").cast("double"))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Unigram log-probability scoring: corpus word frequencies → per-doc
    * mean token log-prob (perplexity filtering's core statistic; very low
    * scores flag boilerplate-free gibberish, very high flag boilerplate).
    * The frequency table is corpus-DERIVED (vocabulary-sized, which grows
    * with the corpus), so it gets NO forced broadcast hint — statistics/AQE
    * decide at runtime, exactly the q64 discipline: a forced broadcast of a
    * corpus-proportional relation is an executor OOM at 100 TB. The
    * single-row grand total IS hinted. */
  def q99(s: SparkSession, d: String): DataFrame = {
    val words = words1(s, d).select(col("doc_id"), col("w"))
    val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = words.agg(count(lit(1)).as("n"))
    val logp = freq.crossJoin(broadcast(total))
      .select(col("w"), log(col("c") / col("n").cast("double")).as("lp"))
    words.join(logp, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), r4(avg("lp")).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** Token-distribution drift between two corpus slices (en vs the rest):
    * add-one-smoothed unigram distributions over the UNION vocabulary,
    * KL(p‖q) both directions — the domain-shift / train-eval-drift
    * statistic run before mixing corpora. One conditional aggregation
    * builds both slice counts in a single pass over the shared token
    * stream (never two scans); the one-row totals broadcast; the
    * divergence is one sum over the vocabulary-sized relation. Smoothed
    * probabilities divide explicitly double-cast integers, so both
    * engines divide identical values termwise. */
  def q125(s: SparkSession, d: String): DataFrame = {
    val counts = words1(s, d).groupBy("w").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("ca") + 1).cast("double") / (col("na") + col("v")).cast("double"))
      .withColumn("q", (col("cb") + 1).cast("double") / (col("nb") + col("v")).cast("double"))
      .agg(
        r5(sum(col("p") * log(col("p") / col("q")))).as("kl_en_rest"),
        r5(sum(col("q") * log(col("q") / col("p")))).as("kl_rest_en"),
        max(col("v")).as("n_vocab"),
        max(col("na")).as("n_en"),
        max(col("nb")).as("n_rest"))
  }

  /** Shingle CONTAINMENT dedup — Broder's asymmetric companion to q76's
    * resemblance (Jaccard): containment(a→b) = |Sₐ∩S_b|/|Sₐ| catches
    * "b is a plus boilerplate" near-dups that symmetric Jaccard dilutes
    * below threshold (the containing doc's extra shingles inflate the
    * union). Directed pairs at ≥ 0.8, derived by mirroring the shared
    * [[shinglePairCounts]] memo (q76's relation) — BOTH directions kept,
    * since containment is not symmetric. */
  def q129(s: SparkSession, d: String): DataFrame = {
    val sizes = shingles5h(s, d).groupBy("doc_id").agg(count(lit(1)).as("n"))
    val half = shinglePairCounts(s, d)
    val directed = half.union(half.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("shared")))
    directed
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .withColumn("containment", r5(col("shared") / col("na").cast("double")))
      .filter(col("containment") >= 0.8)
      .select("doc_a", "doc_b", "na", "shared", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Bigram COLLOCATIONS by pointwise mutual information — the phrase-
    * mining statistic (Church & Hanks 1990): PMI = ln(p(ab)/(p(a)p(b)))
    * with p(ab) = c_ab/B over adjacent word pairs and p(x) = c_x/N over
    * unigrams, min support c_ab ≥ 5, top-20. High-PMI pairs are the
    * multi-word terms a tokenizer/stopword pipeline should treat as
    * units; the corpus-statistics companion to q68's TF-IDF.
    *
    * Determinism: all counts exact integers; PMI is one ln of an
    * int-ratio product under the 4 dp pin; (pmi, bigram) ordering ties
    * impossible at distinct count triples, tiebreak on the bigram.
    * Scale: bigram explode is row-linear (|words|−1 per doc); the two
    * unigram joins key on the support-filtered bigram grain (≪ corpus);
    * totals are one-row broadcasts. */
  def q167(s: SparkSession, d: String): DataFrame = {
    val bg = docWords(s, d).filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
          |  i -> struct(element_at(words, i) AS wa,
          |              element_at(words, i + 1) AS wb))""".stripMargin))
        .as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val uni = words1(s, d).groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum("cu").as("n_uni"))
      .crossJoin(bg.agg(count(lit(1)).as("n_bi")))
    bg.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
      .join(uni.select(col("w").as("wa"), col("cu").as("c_a")), "wa")
      .join(uni.select(col("w").as("wb"), col("cu").as("c_b")), "wb")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", col("wa"), col("wb")).as("bigram"),
        col("c_ab"), col("c_a"), col("c_b"),
        r4(log((col("c_ab").cast("double") / col("n_bi")) /
          ((col("c_a").cast("double") / col("n_uni")) *
           (col("c_b").cast("double") / col("n_uni"))))).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  /** RAKE-style keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free word runs (q79's stopword list, phrases
    * capped at 3 words as rake-nltk does), each word scored deg/freq
    * (deg = Σ length of phrases containing it, freq = its phrase-instance
    * count), phrase score = Σ word scores — the co-occurrence-degree
    * heuristic that surfaces multi-word key terms without any model.
    * Top-20 phrases.
    *
    * Determinism: phrase extraction is row-local string surgery (two
    * identical regex passes — the second catches the alternate members of
    * consecutive-stopword chains the first pass's non-overlapping scan
    * skips); deg/freq are exact integers and each phrase sums ≤3 such
    * ratios under the 4 dp pin. Scale: extraction is a pure map; word
    * stats and the score join key on the word / distinct-phrase grains —
    * row-linear, no windows, no all-pairs anywhere. */
  def q169(s: SparkSession, d: String): DataFrame = {
    val stopPat = " (the|a|of|in|and|to) "
    val t2 = documents(s, d).select(col("doc_id"),
      regexp_replace(regexp_replace(
          concat(lit(" "), lower(col("text")), lit(" ")), stopPat, " | "),
        stopPat, " | ").as("sraw"))
    val phr = t2.select(col("doc_id"), explode(split(col("sraw"), "\\|")).as("p"))
      .select(col("doc_id"), expr(
        "slice(filter(split(trim(p), ' '), w -> w != ''), 1, 3)").as("pw"))
      .filter(size(col("pw")) >= 1)
      .select(col("doc_id"), concat_ws(" ", col("pw")).as("phrase"), col("pw"))
    val wstat = phr.select(explode(col("pw")).as("wd"), size(col("pw")).as("plen"))
      .groupBy("wd").agg(count(lit(1)).as("freq"),
        sum("plen").cast("long").as("deg"))
    phr.groupBy("phrase").agg(count(lit(1)).as("n_occur"))
      .select(col("phrase"), col("n_occur"),
        explode(split(col("phrase"), " ")).as("wd"))
      .join(wstat, "wd")
      .groupBy("phrase", "n_occur")
      .agg(count(lit(1)).as("n_words"),
        r4(sum(col("deg").cast("double") / col("freq"))).as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
      .limit(20)
  }

  /** Per-source distinct-trigram novelty ratio — the templatedness /
    * boilerplate detector a training-mix builder runs per corpus slice: a
    * source whose word-trigram stream is mostly REPEATS of a few templates
    * scores low (novelty = distinct/total ≪ 1), natural prose scores high.
    * The slice-grain companion to q98's per-document repetition score.
    *
    * Determinism: pure integer counts and one pinned ratio. Scale:
    * row-linear explode, then a source-grain agg whose count(DISTINCT)
    * expands map-side — never a pairwise comparison; trigram strings
    * could be 64-bit hashed before the distinct at open scale (exact
    * here, where collision-freeness is testable). */
  def q199(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: same tokenization as the shared docWords memo —
    // reuse its cache instead of re-running scan+lower+split per run
    docWords(s, d)
      .select(col("source"), col("words"))
      .filter(size(col("words")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(words) - 2), i -> array_join(slice(words, i, 3), ' '))"))
        .as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_trigrams"), countDistinct("g").as("n_distinct"))
      .withColumn("novelty",
        r4(col("n_distinct").cast("double") / col("n_trigrams")))
      .orderBy("source")
  }

  /** Per-source token-count Gini coefficient — the length-inequality
    * diagnostic a training-mix builder reads before sampling: a source
    * whose token mass concentrates in a few huge documents (Gini → 1)
    * needs doc-level budget caps (q109), a uniform one (Gini → 0) doesn't.
    * Computed by the exact rank formula G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n
    * over ascending-sorted counts.
    *
    * Determinism: everything is exact integer arithmetic until the final
    * scalar expression, which both engines evaluate with the identical
    * operation sequence on identical ints (then the 4 dp pin). Ranks
    * tiebreak on doc_id. Scale: one partitioned window (rank within
    * source) + one source-grain agg — row-linear, no pairwise work. */
  def q201(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: token counts from the shared docWords cache
    val t = docWords(s, d).select(col("source"), col("doc_id"),
      size(col("words")).cast("long").as("tok"))
    val w = Window.partitionBy("source").orderBy(col("tok"), col("doc_id"))
    t.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
        sum(col("rk") * col("tok")).as("rw"))
      .withColumn("gini", r4(
        lit(2.0) * col("rw").cast("double") /
          (col("n_docs").cast("double") * col("total_tokens").cast("double")) -
        (col("n_docs").cast("double") + lit(1.0)) / col("n_docs").cast("double")))
      .select("source", "n_docs", "total_tokens", "gini")
      .orderBy("source")
  }

  /** Readability profile per source: average words-per-sentence and a
    * Flesch-reading-ease-style score from three exact regex counts per doc
    * (words via the shared space tokenization; sentence marks `[.!?]+`;
    * vowel-group syllable proxy). A curation signal beside q79's quality
    * score — sources full of run-on or fragment text stand out.
    *
    * Determinism: every per-doc count is an exact integer in both regex
    * engines (simple character classes, no dialect divergence); the
    * Flesch arithmetic applies identical IEEE ops to identical exact
    * ratios (both engines parenthesize coef * (a / b) alike), and the
    * per-source averages run over ≤|docs per source| such values — drift
    * ≪ the 2 dp pin. Scale: row-local counts then a source-grain agg. */
  def q217(s: SparkSession, d: String): DataFrame = {
    val m = documents(s, d).select(col("source"),
        size(expr("filter(split(lower(text), ' '), w -> w != '')"))
          .cast("long").as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("sent"),
        regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long").as("syl"))
      .filter(col("w") >= 1)
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("w").cast("double") / col("sent").cast("double")) -
          lit(84.6) * (col("syl").cast("double") / col("w").cast("double")))
    m.groupBy("source").agg(count(lit(1)).as("n_docs"),
        r2(avg(col("w").cast("double") / col("sent").cast("double")))
          .as("avg_wps"),
        r2(avg("flesch")).as("avg_flesch"))
      .orderBy("source")
  }

  /** PII scan per source: occurrence counts of email-shaped, phone-shaped,
    * and long-digit-run substrings, plus how many docs carry any — the
    * pre-release scrub audit that runs before a corpus ships (q56 scrubs
    * known id patterns; this SCREENS for what scrubbing missed). Patterns
    * are simple character-class regexes with identical semantics in both
    * engines (no lookaround, no backrefs).
    *
    * Determinism: exact integer counts. Scale: row-local regex counts
    * then a source-grain agg — one corpus pass. */
  def q219(s: SparkSession, d: String): DataFrame = {
    val m = documents(s, d).select(col("source"),
      regexp_count(lower(col("text")), lit("[a-z0-9._%-]+@[a-z0-9.-]+"))
        .cast("long").as("emails"),
      regexp_count(col("text"), lit("[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"))
        .cast("long").as("phones"),
      regexp_count(col("text"), lit("[0-9]{8,}")).cast("long").as("ids"))
    m.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(when(col("emails") + col("phones") + col("ids") > 0, 1L)
          .otherwise(0L)).as("docs_flagged"),
        sum("emails").as("n_emails"), sum("phones").as("n_phones"),
        sum("ids").as("n_ids"))
      .orderBy("source")
  }

  /** Jensen–Shannon divergence between the en and non-en token
    * distributions — the SYMMETRIC, bounded ([0, ln 2]) member that
    * completes the drift family (q125 KL, q145 KS, q202 PSI): JS is safe
    * to threshold and compare across corpora because it cannot blow up on
    * vocabulary mismatch the way KL can. Same Laplace-smoothed vocabulary
    * grain as q125; the mixture m = (p+q)/2 is row-local.
    *
    * Determinism: exact counts; p, q, m apply identical IEEE ops in both
    * engines; the two ln-sums run over the vocabulary grain with drift ≪
    * the 5 dp pin; js_norm divides the same raw value by ln 2 before its
    * own pin. Scale: one vocab-grain agg + a one-row broadcast — a single
    * corpus pass, exactly q125's shape. */
  def q221(s: SparkSession, d: String): DataFrame = {
    val counts = words1(s, d).groupBy("w").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p",
        (col("ca") + 1).cast("double") / (col("na") + col("v")).cast("double"))
      .withColumn("q",
        (col("cb") + 1).cast("double") / (col("nb") + col("v")).cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .agg(
        r5((sum(col("p") * log(col("p") / col("m"))) +
            sum(col("q") * log(col("q") / col("m")))) / lit(2.0)).as("js"),
        r4(((sum(col("p") * log(col("p") / col("m"))) +
            sum(col("q") * log(col("q") / col("m")))) / lit(2.0)) /
          log(lit(2.0))).as("js_norm"),
        max(col("v")).as("n_vocab"))
  }

  /** Zipf fit of the token frequency spectrum: OLS slope (and R²) of
    * ln(freq) on ln(rank) over the top-250 tokens — natural text sits
    * near slope −1, while templated/synthetic corpora flatten or steepen
    * the line; a corpus-level companion to q201's Gini and q199's
    * novelty. Top-250 is a TakeOrdered top-k (scalable), and the rank
    * window then runs over that fixed 250-row set — bounded by
    * construction at every SF, with (freq desc, token) total order so
    * both engines rank the identical set identically.
    *
    * Determinism: exact counts → identical ln inputs; regr_* are
    * sufficient-statistics sums over ≤250 rows (drift ≪ the 4 dp pins) —
    * EXCEPT regr_r2 when the response ln(f) has zero variance (all top
    * frequencies tied, a degenerate/templated corpus): variance is
    * exactly 0 single-threaded but ~1e-30 under parallel partial merges,
    * flipping regr_r2's var(y)=0 branch between engines (the q226
    * rationale). The exact integer guard min(f)=max(f) pins that case to
    * NULL on both sides. */
  def q223(s: SparkSession, d: String): DataFrame = {
    val top = words1(s, d).groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(250)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("f").desc, col("w"))).cast("long"))
      .agg(count(lit(1)).as("n_tokens"),
        r4(expr("regr_slope(ln(f), ln(rk))")).as("zipf_slope"),
        r4(when(min("f") === max("f"), lit(null).cast("double"))
          .otherwise(expr("regr_r2(ln(f), ln(rk))"))).as("r2"))
  }

  /** Heaps'-law fit per source: the vocabulary-growth exponent β in
    * V(n) ≈ K·n^β, estimated as the OLS slope of ln(cumulative vocab) on
    * ln(cumulative tokens) over the doc_id-ordered corpus — natural text
    * sits near β ≈ 0.5, while templated/boilerplate sources flatten
    * toward 0 (few new words per added token) and synthetic id-heavy
    * sources inflate toward 1. The corpus-growth companion to q223's
    * frequency-spectrum Zipf fit.
    *
    * The cumulative DISTINCT count is made prefix-scannable by the
    * first-occurrence trick: a word's contribution to vocab growth lands
    * on its MIN doc_id (a word-grain agg), so per-doc new-word counts and
    * token counts then cumulate with
    * [[graft.api.Graft.groupedPrefixSum]] — no running-distinct state,
    * no per-source single-task sort. Determinism: exact counts → exact
    * ln inputs; regr_slope sums over ≤|docs per source| rows (drift ≪
    * the 4 dp pin). Deliberately NO R² column: regr_r2 on a
    * zero-variance response (a source whose whole vocabulary lands in
    * its first doc) is unstable under parallel partial aggregation —
    * variance is exactly 0 single-threaded but ~1e-30 when partials
    * merge, flipping the var(y)=0 branch — so the engines can disagree
    * catastrophically there, while the slope's covariance numerator
    * degrades gracefully (pins to 0.0). */
  def q226(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: the doc-grain relation is ≤|docs| rows but its build
    // runs the token explode TWICE (word-grain min-doc agg + doc-grain
    // token counts), and groupedPrefixSum references its input three times
    // (eager bounds job, blocked rows, block totals) with AQE never
    // deduplicating above a cached relation — uncached, the plan scanned
    // the documents parquet 8× per execution (plans/r15/q226_*_before.txt).
    // Memo+cached once per session (the q145/q149 pattern).
    val perDoc = graft.Tables.memoized(s, d, "heapsPerDoc") {
      val tok = docWords(s, d).select(col("doc_id"), col("source"),
        explode(col("words")).as("w"))
      val newPerDoc = tok.groupBy("source", "w").agg(min("doc_id").as("doc_id"))
        .groupBy("source", "doc_id").agg(count(lit(1)).as("nw"))
      val tokPerDoc = tok.groupBy("source", "doc_id").agg(count(lit(1)).as("nt"))
      tokPerDoc.join(newPerDoc, Seq("source", "doc_id"), "left")
        .select(col("source"), col("doc_id"), col("nt"),
          coalesce(col("nw"), lit(0L)).as("nw"))
    }
    graft.api.Graft.groupedPrefixSum(perDoc, Seq("source"), "doc_id",
        Seq("nt", "nw"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max("nt_cum").as("n_tokens"), max("nw_cum").as("n_vocab"),
        r4(expr("regr_slope(ln(nw_cum), ln(nt_cum))")).as("heaps_beta"))
      .orderBy("source")
  }

  /** Per-source token Shannon entropy (and its [0,1] normalization by
    * ln|vocab|) — the unigram information density read beside q201's Gini
    * and q223's Zipf slope: a template-spam source concentrates its token
    * mass on few types (entropy ≪ ln V), natural prose sits near the
    * Zipf-expected value. H = −Σ (c/n)·ln(c/n) over the (source, word)
    * support.
    *
    * Determinism: counts are exact longs; each term divides and logs
    * identical exact values and the per-source sum runs over |vocab|
    * terms — drift ≪ the 4 dp pin; the normalization guards V=1 (H=0,
    * ratio undefined → NULL in both engines). Scale: row-linear explode,
    * (source, word)-grain agg with map-side combine, source-grain
    * totals joined back by source — no window, no pairs. */
  def q237(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: tokens from the shared docWords cache
    val cnt = docWords(s, d)
      .select(col("source"), explode(col("words")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("v"))
    cnt.join(tot, "source")
      .groupBy("source")
      .agg(max("n").as("n_tokens"), max("v").as("n_vocab"),
        r4(-sum((col("c").cast("double") / col("n").cast("double")) *
          log(col("c").cast("double") / col("n").cast("double")))).as("entropy"))
      .withColumn("norm_entropy",
        r4(when(col("n_vocab") === 1, null)
          .otherwise(col("entropy") / log(col("n_vocab").cast("double")))))
      .orderBy("source")
  }

  /** Pairwise vocabulary Jaccard between sources — the corpus-slice
    * similarity matrix a training-mix builder reads before weighting
    * (q109): two sources sharing most of their vocabulary are near-
    * redundant slices. Top-20 most-overlapping pairs.
    *
    * Determinism: shared counts and vocab sizes are exact longs; one
    * pinned ratio; ties order (source_a, source_b). Scale: this is
    * inverted-index dedup at the SOURCE grain — the (source, word)
    * distinct relation joins itself on word, so the fan-out per word is
    * ≤|sources|² (a few hundred), never doc-pairwise; everything else
    * is source-grain. */
  def q239(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: tokens from the shared docWords cache
    val sv = docWords(s, d)
      .select(col("source"), explode(col("words")).as("w"))
      .distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("v"))
    sv.select(col("source").as("source_a"), col("w"))
      .join(sv.select(col("source").as("source_b"), col("w")), "w")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("source").as("source_a"), col("v").as("va")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("v").as("vb")), "source_b")
      .select(col("source_a"), col("source_b"), col("shared"),
        r5(col("shared").cast("double") /
          (col("va") + col("vb") - col("shared")).cast("double")).as("jac"))
      .orderBy(col("jac").desc, col("source_a"), col("source_b"))
      .limit(20)
  }

  /** Corpus boilerplate detection: the 20 most widely shared 8-word
    * phrases (by distinct-document frequency, each doc voting once) —
    * the navigation-chrome / license-header / template detector run
    * before near-dup scoring, since shared boilerplate inflates every
    * pairwise similarity (q76/q86). Longer than q199's trigrams by
    * design: an 8-gram shared across documents is virtually never
    * natural coincidence.
    *
    * Determinism: exact distinct counts, (df desc, gram) order. Scale:
    * row-linear explode + distinct + gram-grain count, then a global
    * top-20 (TakeOrdered, no full sort); at open scale the gram strings
    * would 64-bit-hash before the distinct, exactly as q199 documents. */
  def q240(s: SparkSession, d: String): DataFrame = {
    docWords(s, d)
      .filter(size(col("words")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 7), i -> array_join(slice(words, i, 8), ' '))"))
        .as("gram"))
      .distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(20)
  }

  /** BPE merge statistics — step one of byte-pair-encoding tokenizer
    * training (Sennrich et al. 2016): the most frequent ADJACENT
    * character pairs inside word tokens, weighted by word occurrence —
    * exactly the count a BPE trainer maximizes to pick its first merge.
    * Reported with the distinct word-form support so a pair carried by
    * one hot word is distinguishable from one spread across the
    * vocabulary.
    *
    * Determinism: exact integer counts over exact substrings; (count
    * desc, pair) order. Scale: the explode is Σ word-length — the same
    * row-linear cost as tokenization itself; one pair-grain agg whose
    * distinct-word count expands map-side; global top-20. A full BPE
    * train iterates this exact aggregate, re-pairing after each merge —
    * each iteration stays this same row-linear shape. */
  def q241(s: SparkSession, d: String): DataFrame = {
    words1(s, d)
      .filter(length(col("w")) >= 2)
      .select(col("w"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("p"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_occur"), countDistinct("w").as("n_words"))
      .orderBy(col("n_occur").desc, col("p"))
      .limit(20)
  }

  /** Vocabulary coverage curve — the tokenizer-budget statistic: the
    * smallest vocabulary (taking words most-frequent-first) covering
    * 50/90/95/99% of corpus token mass. Computed ENTIRELY in integer
    * arithmetic on the count-support grain: word counts collapse to
    * (count, n_words, mass) levels, the level cumulatives run over the
    * ~hundreds of distinct count values, and the crossing vocabulary
    * interpolates within the crossing level by exact ceiling division —
    * 100·cum ≥ pct·total compares integers, so no float can move a
    * boundary.
    *
    * Determinism: pure integers end to end (the share pin is the only
    * float, on an exact ratio). Scale: token explode → word-grain agg →
    * COUNT-support grain (vanishingly small); the descending cumulative
    * runs through [[graft.api.Graft.prefixSum]]'s range-block combine on
    * the negated count, and the 4-row threshold table broadcasts. */
  def q242(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: the count-support grain is vanishingly small
    // (~hundreds of rows) but its build is the full token explode +
    // word-grain agg, and the plan references it FOUR times (prefixSum's
    // blocked rows + block totals, the eager bounds job, and the `tot`
    // aggregation below) with AQE never deduplicating above a cached
    // relation — uncached, each reference re-ran the tokenize (4 parquet
    // scans per execution in plans/r15/q242_*_before.txt). Memo+cached
    // once per session (the q145/q149 pattern).
    val lvl = graft.Tables.memoized(s, d, "vocabLevels") {
      words1(s, d)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("nw"))
        .withColumn("mass", col("c") * col("nw"))
        .withColumn("oc", -col("c"))
    }
    val cum = graft.api.Graft.prefixSum(lvl, "oc", Seq("mass", "nw"))
    val tot = lvl.agg(sum("mass").as("tm"), sum("nw").as("tv"))
    val th = s.sql("SELECT explode(array(50L, 90L, 95L, 99L)) AS pct")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(th))
      .filter(col("mass_cum") * 100 >= col("pct") * col("tm") &&
        (col("mass_cum") - col("mass")) * 100 < col("pct") * col("tm"))
      .withColumn("vocab_size", expr(
        "(nw_cum - nw) + ((pct * tm - 100 * (mass_cum - mass)) + 100 * c - 1) div (100 * c)"))
      .select(col("pct"), col("vocab_size"),
        col("tv").as("total_vocab"), col("tm").as("total_tokens"),
        r5(col("vocab_size").cast("double") / col("tv").cast("double"))
          .as("vocab_share"))
      .orderBy("pct")
  }

  /** Top-20 most-similar document pairs by TF-IDF weighted cosine — the
    * SPARSE-vector similarity beside q76's set Jaccard (ignores term
    * weight) and q77's dense embedding cosine (needs an encoder): terms
    * weighted tf·ln(N/df), pairs generated through the df≤50 inverted
    * index (the q76/q129 pruning discipline — a term in >50 docs carries
    * idf < ln(N/50) AND would quadratically dominate the pair fan-out,
    * so the cap is simultaneously the relevance and the scale cut).
    * Norms use the SAME pruned weight set, so cos is exact cosine in the
    * rare-term subspace — documented semantics, not an approximation
    * error.
    *
    * Determinism: weights are identical IEEE products of exact counts;
    * per-pair dots sum few shared-term products and norms sum each doc's
    * own terms (drift ≪ 4 dp); order on the pinned cosine with pair
    * tiebreak. Scale: inverted-index join keyed on the term — the
    * bounded-df shape, never all-pairs; everything else row-linear. */
  def q253(s: SparkSession, d: String): DataFrame = {
    // r15 session 2: the tf-idf weight relation is referenced THREE times
    // (norms + both inverted-index join sides) above the words1 CACHE,
    // where AQE never reuses exchanges — uncached, the tf agg + df join
    // re-ran per reference. Memo+cached once per session (bounded by the
    // df≤50 cut; the q145/q149 pattern).
    val wts = graft.Tables.memoized(s, d, "tfidfWts") {
      val tf = words1(s, d).groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nd = documents(s, d).agg(count(lit(1)).as("nn"))
      tf.join(dfr.filter(col("df") <= 50), "w")
        .crossJoin(broadcast(nd))
        .withColumn("wt", col("tf").cast("double") *
          log(col("nn").cast("double") / col("df").cast("double")))
    }
    val nrm = wts.groupBy("doc_id").agg(sum(col("wt") * col("wt")).as("sq"))
    wts.select(col("doc_id").as("doc_a"), col("w"), col("wt").as("wa"))
      .join(wts.select(col("doc_id").as("doc_b"), col("w"), col("wt").as("wb")), "w")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("sq").as("sqa")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("sq").as("sqb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // nullif: a doc whose every term has idf 0 (appears in ALL docs)
        // has a zero tf-idf norm — null cosine, not 0/0
        r4(col("dot") /
          nullif(sqrt(col("sqa")) * sqrt(col("sqb")), lit(0.0))).as("cos_tfidf"))
      .orderBy(col("cos_tfidf").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Hashing-trick featurizer diagnostics — the fixed-width sparse text
    * featurizer (Weinberger et al. 2009) every tabular/text baseline
    * ships when a vocabulary is unbounded: token → sha bucket mod 256
    * with a ±1 sign from an INDEPENDENT hash digit, per-bucket token
    * mass, distinct-word load, signed net sum, and the interference rate
    * (n − |net|)/n — the share of mass cancelled by sign collisions,
    * the quantity that decides whether 256 buckets is wide enough
    * BEFORE training on the features.
    *
    * Determinism: bucket and sign are sha2 arithmetic (hex chars 1–8 vs
    * char 9 — independent digits of one digest, zero RNG); counts exact;
    * one pinned ratio. Scale: ONE token-stream hash agg to 256 cells —
    * map-side combinable, row-linear, no joins. */
  def q263(s: SparkSession, d: String): DataFrame =
    words1(s, d).select(col("w"))
      .withColumn("bucket", graft.api.Graft.hashBucket(col("w"), 256))
      .withColumn("sign", when(expr(
        "CAST(conv(substring(sha2(CAST(w AS STRING), 256), 9, 1), 16, 10) AS BIGINT) % 2")
        === 0, 1L).otherwise(-1L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("w").as("n_words"),
        sum("sign").as("net_sum"))
      .select(col("bucket"), col("n_tokens"), col("n_words"), col("net_sum"),
        r4((col("n_tokens") - abs(col("net_sum"))).cast("double") /
          col("n_tokens").cast("double")).as("interference"))
      .orderBy("bucket")

  /** Dedup-screen evaluation — recall/precision of the cheap SimHash
    * banded candidate generator (q138's 4×12-bit bands over the 48-bit
    * signature) against the exact near-dup ground truth (q76's 5-shingle
    * Jaccard ≥ 0.4): the META-operator a pipeline owner runs before
    * trusting an LSH screen at scale, answering "how much of the real
    * duplication does the screen capture, at what candidate volume".
    * Reports docs, the all-pairs count the screen avoided, candidates
    * and their rate, truth pairs, hits, recall and screen precision.
    *
    * Determinism: both relations are deterministic sha/integer
    * machinery; counts exact; pinned ratios with empty-side nullif
    * guards. Scale: reuses the memoized signature/shingle-pair
    * relations — both sides banded/pruned, never all-pairs; the final
    * assembly is three one-row counts. */
  def q270(s: SparkSession, d: String): DataFrame = {
    // r15: candidates and sizes come from the shared memos (bandCand48 /
    // shSizes — each was rebuilt inline per reference here: sizes 4x,
    // the banded join 2x per pass), and the ground-truth pair set is
    // memo+cached itself because the final assembly references it twice
    // (the hit join and its own count).
    val cand = bandCand48(s, d)
    val truth = graft.Tables.memoized(s, d, "simTruth04") {
      val sizes = shSizes(s, d)
      shinglePairCounts(s, d)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .filter(r5(col("shared") / (col("na") + col("nb") - col("shared"))) >= 0.4)
        .select("doc_a", "doc_b")
    }
    val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val hit = truth.join(cand, Seq("doc_a", "doc_b"))
    nd.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_docs"),
        expr("(n_docs * (n_docs - 1)) div 2").as("all_pairs"),
        col("n_candidates"),
        // nullif: a zero- or one-doc corpus slice has no pairs to rate —
        // null, not an ANSI divide-by-zero crash (r11 empty-corpus sweep)
        r5(col("n_candidates").cast("double") /
          nullif(col("n_docs").cast("double") * (col("n_docs") - 1) / lit(2.0),
            lit(0.0)))
          .as("candidate_rate"),
        col("n_truth"), col("n_hit"),
        r4(col("n_hit").cast("double") /
          nullif(col("n_truth").cast("double"), lit(0.0))).as("recall"),
        r4(col("n_hit").cast("double") /
          nullif(col("n_candidates").cast("double"), lit(0.0))).as("screen_precision"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q270_dedup_eval" -> q270,
    "q263_feature_hashing" -> q263,
    "q253_tfidf_doc_sim" -> q253,
    "q237_source_entropy" -> q237,
    "q239_source_overlap" -> q239,
    "q240_boilerplate_ngrams" -> q240,
    "q241_bpe_pair_stats" -> q241,
    "q242_vocab_coverage" -> q242,
    "q226_heaps_law" -> q226,
    "q221_js_divergence" -> q221,
    "q223_zipf_slope" -> q223,
    "q217_readability" -> q217,
    "q219_pii_scan" -> q219,
    "q201_token_gini" -> q201,
    "q199_ngram_novelty" -> q199,
    "q167_bigram_pmi" -> q167,
    "q169_rake_keywords" -> q169,
    "q98_text_repetition" -> q98,
    "q99_text_logprob" -> q99,
    "q125_token_drift" -> q125,
    "q129_dedup_containment" -> q129,
    "q76_dedup_ngram_jaccard" -> q76,
    "q77_dedup_cosine_nn" -> q77,
    "q78_text_langid" -> q78,
    "q161_langid_confusion" -> q161,
    "q79_text_quality" -> q79,
    "q83_token_count" -> q83,
    "q84_doc_fingerprint" -> q84,
    "q85_sim_search_ivf" -> q85,
    "q86_dedup_simhash" -> q86,
    "q138_dedup_banded_verify" -> q138)

  private val wordsCte = s"w AS ($wordsSql)"

  val oracle: Map[String, String] = Map(
    "q270_dedup_eval" ->
      s"""WITH $wordsCte,
         |wh AS (SELECT DISTINCT doc_id, wd FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS wd
         |    FROM w WHERE len(words) >= 3)),
         |hs AS (SELECT doc_id, ('0x' || substr(sha256(wd), 1, 12))::BIGINT AS h FROM wh),
         |votes AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM hs, generate_series(0, 47) AS t(j) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |    sum(CASE WHEN vote > 0 THEN CAST(pow(2e0, j) AS BIGINT) ELSE 0 END) AS simhash
         |  FROM votes GROUP BY 1),
         |banded AS (SELECT doc_id, b, (simhash >> (12 * b)) & 4095 AS bv
         |  FROM sig, generate_series(0, 3) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |sh AS ($shinglesSql),
         |rare AS (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= 50),
         |pr AS (SELECT s2.doc_id, s2.sh FROM sh s2 JOIN rare USING (sh)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |truth AS (SELECT p.doc_a, p.doc_b FROM pairs p
         |  JOIN sizes na ON na.doc_id = p.doc_a
         |  JOIN sizes nb ON nb.doc_id = p.doc_b
         |  WHERE ${sr5("p.shared / CAST(na.n + nb.n - p.shared AS DOUBLE)")} >= 0.4),
         |hit AS (SELECT t.doc_a FROM truth t
         |  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |cnt AS (SELECT (SELECT n_docs FROM nd) AS n_docs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
         |SELECT n_docs, (n_docs * (n_docs - 1)) // 2 AS all_pairs,
         |  n_candidates,
         |  ${sr5("CAST(n_candidates AS DOUBLE) / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2e0)")} AS candidate_rate,
         |  n_truth, n_hit,
         |  ${sr4("CAST(n_hit AS DOUBLE) / nullif(CAST(n_truth AS DOUBLE), 0e0)")} AS recall,
         |  ${sr4("CAST(n_hit AS DOUBLE) / nullif(CAST(n_candidates AS DOUBLE), 0e0)")} AS screen_precision
         |FROM cnt""".stripMargin,
    "q263_feature_hashing" ->
      s"""WITH w AS ($wordsSql),
         |tok AS (SELECT unnest(words) AS w FROM w),
         |hashed AS (SELECT
         |    ('0x' || substr(sha256(w), 1, 8))::BIGINT % 256 AS bucket,
         |    CASE WHEN ('0x' || substr(sha256(w), 9, 1))::BIGINT % 2 = 0
         |         THEN 1 ELSE -1 END AS sign, w
         |  FROM tok)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT w) AS BIGINT) AS n_words,
         |  CAST(sum(sign) AS BIGINT) AS net_sum,
         |  ${sr4("CAST(count(*) - abs(sum(sign)) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS interference
         |FROM hashed GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q253_tfidf_doc_sim" ->
      s"""WITH w AS ($wordsSql),
         |tk AS (SELECT doc_id, unnest(words) AS w FROM w),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY 1, 2),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf
         |  GROUP BY 1 HAVING count(*) <= 50),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         |wts AS (SELECT doc_id, tf.w,
         |    CAST(tf AS DOUBLE) * ln(CAST(nn AS DOUBLE) / CAST(df AS DOUBLE)) AS wt
         |  FROM tf JOIN df USING (w) CROSS JOIN n),
         |nrm AS (SELECT doc_id, sum(wt * wt) AS sq FROM wts GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    sum(a.wt * b.wt) AS dot
         |  FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  ${sr4("dot / nullif(sqrt(na.sq) * sqrt(nb.sq), 0e0)")} AS cos_tfidf
         |FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
         |JOIN nrm nb ON dots.doc_b = nb.doc_id
         |ORDER BY cos_tfidf DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "q237_source_entropy" ->
      s"""WITH tok AS (SELECT source, unnest(list_filter(
         |    string_split(lower(text), ' '), x -> x != '')) AS w
         |  FROM documents),
         |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS v FROM cnt GROUP BY 1),
         |h AS (SELECT cnt.source, max(n) AS n_tokens, max(v) AS n_vocab,
         |    ${sr4("-sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))")} AS entropy
         |  FROM cnt JOIN tot USING (source) GROUP BY 1)
         |SELECT source, n_tokens, n_vocab, entropy,
         |  CASE WHEN n_vocab = 1 THEN NULL
         |    ELSE ${sr4("entropy / ln(CAST(n_vocab AS DOUBLE))")} END AS norm_entropy
         |FROM h ORDER BY source""".stripMargin,
    "q239_source_overlap" ->
      s"""WITH sv AS (SELECT DISTINCT source, w FROM (
         |    SELECT source, unnest(list_filter(string_split(lower(text), ' '),
         |      x -> x != '')) AS w
         |    FROM documents)),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v
         |  FROM sv GROUP BY 1),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, shared,
         |  ${sr5("CAST(shared AS DOUBLE) / CAST(na.v + nb.v - shared AS DOUBLE)")} AS jac
         |FROM pairs
         |JOIN sizes na ON source_a = na.source
         |JOIN sizes nb ON source_b = nb.source
         |ORDER BY jac DESC, source_a, source_b LIMIT 20""".stripMargin,
    "q240_boilerplate_ngrams" ->
      s"""WITH $wordsCte,
         |g8 AS (SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 7),
         |      i -> array_to_string(list_slice(words, i, i + 7), ' '))) AS g
         |    FROM w WHERE len(words) >= 8))
         |SELECT g AS gram, CAST(count(*) AS BIGINT) AS df
         |FROM g8 GROUP BY 1 ORDER BY df DESC, gram LIMIT 20""".stripMargin,
    "q241_bpe_pair_stats" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(words) AS w FROM w),
         |pr AS (SELECT w, unnest(list_transform(generate_series(1, length(w) - 1),
         |    i -> substr(w, i, 2))) AS p
         |  FROM tok WHERE length(w) >= 2)
         |SELECT p, CAST(count(*) AS BIGINT) AS n_occur,
         |  CAST(count(DISTINCT w) AS BIGINT) AS n_words
         |FROM pr GROUP BY 1 ORDER BY n_occur DESC, p LIMIT 20""".stripMargin,
    "q242_vocab_coverage" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(words) AS wd FROM w),
         |wc AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
         |lvl AS (SELECT c, CAST(count(*) AS BIGINT) AS nw,
         |    CAST(c * count(*) AS BIGINT) AS mass FROM wc GROUP BY 1),
         |cum AS (SELECT c, nw, mass,
         |    CAST(sum(mass) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS mass_cum,
         |    CAST(sum(nw) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS nw_cum
         |  FROM lvl),
         |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS tm,
         |    CAST(sum(nw) AS BIGINT) AS tv FROM lvl),
         |th AS (SELECT CAST(unnest([50, 90, 95, 99]) AS BIGINT) AS pct),
         |x AS (SELECT pct,
         |    (nw_cum - nw) + ((pct * tm - 100 * (mass_cum - mass)) + 100 * c - 1)
         |      // (100 * c) AS k, tv, tm
         |  FROM cum CROSS JOIN tot CROSS JOIN th
         |  WHERE mass_cum * 100 >= pct * tm
         |    AND (mass_cum - mass) * 100 < pct * tm)
         |SELECT pct, CAST(k AS BIGINT) AS vocab_size, tv AS total_vocab,
         |  tm AS total_tokens,
         |  ${sr5("CAST(k AS DOUBLE) / CAST(tv AS DOUBLE)")} AS vocab_share
         |FROM x ORDER BY pct""".stripMargin,
    "q226_heaps_law" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest(list_filter(
         |    string_split(lower(text), ' '), x -> x != '')) AS wd
         |  FROM documents),
         |fd AS (SELECT source, wd, min(doc_id) AS doc_id
         |  FROM tok GROUP BY 1, 2),
         |npd AS (SELECT source, doc_id, count(*) AS nw
         |  FROM fd GROUP BY 1, 2),
         |tpd AS (SELECT source, doc_id, count(*) AS nt
         |  FROM tok GROUP BY 1, 2),
         |pd AS (SELECT t.source, t.doc_id, t.nt, coalesce(n.nw, 0) AS nw
         |  FROM tpd t LEFT JOIN npd n
         |    ON n.source = t.source AND n.doc_id = t.doc_id),
         |cum AS (SELECT source,
         |    sum(nt) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt_cum,
         |    sum(nw) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nw_cum
         |  FROM pd)
         |SELECT source, count(*) AS n_docs,
         |  CAST(max(nt_cum) AS BIGINT) AS n_tokens,
         |  CAST(max(nw_cum) AS BIGINT) AS n_vocab,
         |  ${sr4("regr_slope(ln(nw_cum), ln(nt_cum))")} AS heaps_beta
         |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    "q221_js_divergence" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT lang, unnest(words) AS wd FROM w),
         |counts AS (SELECT wd,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cb
         |  FROM tok GROUP BY 1),
         |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM counts),
         |pq AS (SELECT
         |    CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p,
         |    CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS q,
         |    v
         |  FROM counts CROSS JOIN tot),
         |pqm AS (SELECT p, q, (p + q) / 2.0e0 AS m, v FROM pq)
         |SELECT
         |  ${sr5("(sum(p * ln(p / m)) + sum(q * ln(q / m))) / 2.0e0")} AS js,
         |  ${sr4("((sum(p * ln(p / m)) + sum(q * ln(q / m))) / 2.0e0) / ln(2.0e0)")} AS js_norm,
         |  CAST(max(v) AS BIGINT) AS n_vocab
         |FROM pqm""".stripMargin,
    "q223_zipf_slope" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT unnest(words) AS wd FROM w),
         |f AS (SELECT wd, count(*) AS f FROM tok GROUP BY 1
         |  ORDER BY f DESC, wd LIMIT 250),
         |r AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, wd)
         |    AS BIGINT) AS rk FROM f)
         |SELECT count(*) AS n_tokens,
         |  ${sr4("regr_slope(ln(f), ln(rk))")} AS zipf_slope,
         |  CASE WHEN min(f) = max(f) THEN NULL
         |    ELSE ${sr4("regr_r2(ln(f), ln(rk))")} END AS r2
         |FROM r""".stripMargin,
    "q217_readability" ->
      s"""WITH m AS (SELECT source,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x != '')) AS BIGINT) AS w,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
         |      AS BIGINT) AS sent,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |      AS BIGINT) AS syl
         |  FROM documents),
         |f AS (SELECT source, w, sent,
         |    206.835e0
         |      - 1.015e0 * (CAST(w AS DOUBLE) / CAST(sent AS DOUBLE))
         |      - 84.6e0 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) AS flesch
         |  FROM m WHERE w >= 1)
         |SELECT source, count(*) AS n_docs,
         |  ${sr2("avg(CAST(w AS DOUBLE) / CAST(sent AS DOUBLE))")} AS avg_wps,
         |  ${sr2("avg(flesch)")} AS avg_flesch
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q219_pii_scan" ->
      """WITH m AS (SELECT source,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z0-9._%-]+@[a-z0-9.-]+')) AS BIGINT) AS emails,
        |    CAST(len(regexp_extract_all(text,
        |      '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS phones,
        |    CAST(len(regexp_extract_all(text, '[0-9]{8,}')) AS BIGINT) AS ids
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN emails + phones + ids > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_flagged,
        |  CAST(sum(emails) AS BIGINT) AS n_emails,
        |  CAST(sum(phones) AS BIGINT) AS n_phones,
        |  CAST(sum(ids) AS BIGINT) AS n_ids
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q201_token_gini" ->
      s"""WITH t AS (SELECT source, doc_id,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x != '')) AS BIGINT) AS tok
         |  FROM documents),
         |r AS (SELECT source, tok, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY tok, doc_id) AS BIGINT) AS rk
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS total_tokens,
         |  ${sr4("2.0e0 * CAST(sum(rk * tok) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * CAST(sum(tok) AS DOUBLE)) - (CAST(count(*) AS DOUBLE) + 1.0e0) / CAST(count(*) AS DOUBLE)")} AS gini
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q199_ngram_novelty" ->
      s"""WITH w AS (SELECT source,
         |    list_filter(string_split(lower(text), ' '), x -> x != '') AS words
         |  FROM documents),
         |g AS (SELECT source,
         |    unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS g
         |  FROM w WHERE len(words) >= 3)
         |SELECT source, count(*) AS n_trigrams,
         |  count(DISTINCT g) AS n_distinct,
         |  ${sr4("CAST(count(DISTINCT g) AS DOUBLE) / count(*)")} AS novelty
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q169_rake_keywords" ->
      s"""WITH t2 AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(' ' || lower(text) || ' ',
         |    ' (the|a|of|in|and|to) ', ' | ', 'g'), ' (the|a|of|in|and|to) ', ' | ', 'g') AS s
         |  FROM documents),
         |ph AS (SELECT doc_id,
         |    list_slice(list_filter(string_split(trim(p), ' '), w -> w != ''), 1, 3) AS pw
         |  FROM (SELECT doc_id, unnest(string_split(s, '|')) AS p FROM t2)
         |  WHERE len(list_filter(string_split(trim(p), ' '), w -> w != '')) >= 1),
         |phr AS (SELECT doc_id, array_to_string(pw, ' ') AS phrase, pw FROM ph),
         |wstat AS (SELECT wd, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
         |  FROM (SELECT unnest(pw) AS wd, len(pw) AS plen FROM phr) GROUP BY 1),
         |dp AS (SELECT phrase, count(*) AS n_occur FROM phr GROUP BY 1)
         |SELECT x.phrase, x.n_occur, count(*) AS n_words,
         |  ${sr4("sum(CAST(deg AS DOUBLE) / freq)")} AS rake_score
         |FROM (SELECT dp.phrase, dp.n_occur,
         |      unnest(string_split(dp.phrase, ' ')) AS wd FROM dp) x
         |JOIN wstat USING (wd) GROUP BY 1, 2
         |ORDER BY rake_score DESC, phrase LIMIT 20""".stripMargin,
    "q167_bigram_pmi" ->
      s"""WITH $wordsCte,
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(words) - 1),
         |    i -> words[i] || ' ' || words[i + 1])) AS b
         |  FROM w WHERE len(words) >= 2),
         |bp AS (SELECT string_split(b, ' ')[1] AS wa,
         |    string_split(b, ' ')[2] AS wb FROM bg),
         |uni AS (SELECT unnest(words) AS wd FROM w),
         |cu AS (SELECT wd, count(*) AS c FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS n_uni,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bp) AS n_bi),
         |cab AS (SELECT wa, wb, count(*) AS c_ab FROM bp
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT cab.wa || ' ' || cab.wb AS bigram, cab.c_ab,
         |  a.c AS c_a, b.c AS c_b,
         |  ${sr4("ln((CAST(cab.c_ab AS DOUBLE) / n_bi) / ((CAST(a.c AS DOUBLE) / n_uni) * (CAST(b.c AS DOUBLE) / n_uni)))")} AS pmi
         |FROM cab JOIN cu a ON cab.wa = a.wd JOIN cu b ON cab.wb = b.wd, tot
         |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
    "q125_token_drift" ->
      s"""WITH $wordsCte,
         |tok AS (SELECT lang, unnest(words) AS wd FROM w),
         |counts AS (SELECT wd,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cb
         |  FROM tok GROUP BY 1),
         |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM counts),
         |pq AS (SELECT
         |    CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p,
         |    CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS q,
         |    na, nb, v
         |  FROM counts CROSS JOIN tot)
         |SELECT ${sr5("sum(p * ln(p / q))")} AS kl_en_rest,
         |  ${sr5("sum(q * ln(q / p))")} AS kl_rest_en,
         |  CAST(max(v) AS BIGINT) AS n_vocab,
         |  CAST(max(na) AS BIGINT) AS n_en,
         |  CAST(max(nb) AS BIGINT) AS n_rest
         |FROM pq""".stripMargin,
    "q98_text_repetition" ->
      s"""WITH $wordsCte,
         |tri AS (SELECT doc_id, t FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS t
         |    FROM w WHERE len(words) >= 3)),
         |pc AS (SELECT doc_id, t, count(*) AS c FROM tri GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams, count(*) AS n_distinct,
         |  max(c) AS max_tri_count,
         |  ${sr4("1e0 - count(*) / CAST(sum(c) AS DOUBLE)")} AS dup_ratio
         |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q99_text_logprob" ->
      s"""WITH $wordsCte,
         |words AS (SELECT doc_id, unnest(words) AS wd FROM w),
         |freq AS (SELECT wd, count(*) AS c FROM words GROUP BY 1),
         |total AS (SELECT count(*) AS n FROM words),
         |logp AS (SELECT wd, ln(c / CAST(n AS DOUBLE)) AS lp FROM freq, total)
         |SELECT doc_id, count(*) AS n_tokens, ${sr4("avg(lp)")} AS mean_logprob
         |FROM words JOIN logp USING (wd)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q129_dedup_containment" ->
      s"""WITH $wordsCte,
         |sh AS (SELECT DISTINCT doc_id, s AS sh FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 4),
         |      i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS s
         |    FROM w WHERE len(words) >= 5)),
         |rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
         |  WHERE df <= 50),
         |pr AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, na.n AS na, shared,
         |  ${sr5("shared / CAST(na.n AS DOUBLE)")} AS containment
         |FROM pairs JOIN sizes na ON doc_a = na.doc_id
         |WHERE ${sr5("shared / CAST(na.n AS DOUBLE)")} >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q76_dedup_ngram_jaccard" ->
      s"""WITH $wordsCte,
         |sh AS (SELECT DISTINCT doc_id, s AS sh FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 4),
         |      i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS s
         |    FROM w WHERE len(words) >= 5)),
         |rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
         |  WHERE df <= 50),
         |pr AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared,
         |  ${sr5("shared / CAST(na.n + nb.n - shared AS DOUBLE)")} AS jac
         |FROM pairs JOIN sizes na ON doc_a = na.doc_id
         |JOIN sizes nb ON doc_b = nb.doc_id
         |WHERE ${sr5("shared / CAST(na.n + nb.n - shared AS DOUBLE)")} >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q77_dedup_cosine_nn" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${sr5("coalesce(list_dot_product(a.v, b.v) / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0e0), 0e0)")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.5 ORDER BY vec_a, vec_b""".stripMargin,
    "q161_langid_confusion" ->
      s"""WITH $wordsCte,
         |words AS (SELECT doc_id, lang, unnest(words) AS wd FROM w),
         |prof AS (SELECT lang AS plang, wd FROM (
         |    SELECT lang, wd, row_number() OVER (PARTITION BY lang
         |      ORDER BY count(*) DESC, wd) AS rn
         |    FROM words GROUP BY lang, wd) WHERE rn <= 20),
         |dd AS (SELECT DISTINCT doc_id, wd FROM words),
         |scores AS (SELECT doc_id, plang, count(*) AS score
         |  FROM dd JOIN prof USING (wd) GROUP BY 1, 2),
         |top AS (SELECT doc_id, plang FROM (
         |    SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, plang) AS rn FROM scores) WHERE rn = 1),
         |pr AS (SELECT d.lang AS actual_lang, plang AS pred_lang
         |  FROM top JOIN documents d USING (doc_id)),
         |per AS (SELECT actual_lang, count(*) AS n_actual FROM pr GROUP BY 1),
         |conf AS (SELECT actual_lang, pred_lang, count(*) AS n
         |  FROM pr GROUP BY 1, 2)
         |SELECT c.actual_lang, c.pred_lang, c.n,
         |  ${sr4("CAST(c.n AS DOUBLE) / CAST(p.n_actual AS DOUBLE)")} AS share
         |FROM conf c JOIN per p USING (actual_lang)
         |ORDER BY actual_lang, pred_lang""".stripMargin,
    "q78_text_langid" ->
      s"""WITH $wordsCte,
         |words AS (SELECT doc_id, lang, unnest(words) AS wd FROM w),
         |prof AS (SELECT lang AS plang, wd FROM (
         |    SELECT lang, wd, row_number() OVER (PARTITION BY lang
         |      ORDER BY count(*) DESC, wd) AS rn
         |    FROM words GROUP BY lang, wd) WHERE rn <= 20),
         |dd AS (SELECT DISTINCT doc_id, wd FROM words),
         |scores AS (SELECT doc_id, plang, count(*) AS score
         |  FROM dd JOIN prof USING (wd) GROUP BY 1, 2),
         |top AS (SELECT doc_id, plang FROM (
         |    SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, plang) AS rn FROM scores) WHERE rn = 1)
         |SELECT d.doc_id, plang AS pred_lang, d.lang AS actual_lang,
         |  plang = d.lang AS correct
         |FROM top JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q79_text_quality" ->
      s"""WITH base AS (SELECT doc_id,
         |    len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n_words,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         |      / nullif(CAST(len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS DOUBLE), 0e0) AS avg_wlen_raw,
         |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / nullif(CAST(length(text) AS DOUBLE), 0e0) AS punct_ratio_raw,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x IN ('the', 'a', 'of', 'in', 'and', 'to'))) AS DOUBLE)
         |      / nullif(CAST(len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS DOUBLE), 0e0) AS stop_ratio_raw
         |  FROM documents)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  ${sr2("avg_wlen_raw")} AS avg_wlen,
         |  ${sr4("punct_ratio_raw")} AS punct_ratio,
         |  ${sr4("stop_ratio_raw")} AS stop_ratio,
         |  ${sr4("least(1e0, n_words / 100e0) * (1e0 - punct_ratio_raw) * (0.5e0 + least(0.5e0, stop_ratio_raw * 5e0))")} AS quality
         |FROM base ORDER BY doc_id""".stripMargin,
    "q83_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
         |  n_chars,
         |  ${sr4("CAST(n_chars AS DOUBLE) / nullif(CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS DOUBLE), 0e0)")} AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q84_doc_fingerprint" ->
      s"""WITH $wordsCte,
         |sh AS (SELECT DISTINCT doc_id, s AS sh FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 4),
         |      i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS s
         |    FROM w WHERE len(words) >= 5))
         |SELECT doc_id, min(sha256(sh)) AS fp_min, max(sha256(sh)) AS fp_max,
         |  count(*) AS n_shingles
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q85_sim_search_ivf" ->
      s"""WITH ex AS (SELECT vec_id, label, i AS ord, embedding[i]::DOUBLE AS x
         |  FROM embeddings, generate_series(1, 64) AS t(i)),
         |c AS (SELECT label, ord, avg(x) AS cx FROM ex GROUP BY 1, 2),
         |cent AS (SELECT label, list(cx ORDER BY ord) AS cvec FROM c GROUP BY 1),
         |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |cell AS (SELECT probe_id, p, label AS cell FROM (
         |    SELECT pr.vec_id AS probe_id, pr.v AS p, cent.label,
         |      row_number() OVER (PARTITION BY pr.vec_id ORDER BY
         |        ${sr5("coalesce(list_dot_product(pr.v, cvec) / nullif(sqrt(list_dot_product(pr.v, pr.v)) * sqrt(list_dot_product(cvec, cvec)), 0e0), 0e0)")} DESC,
         |        cent.label) AS rn
         |    FROM e pr, cent WHERE pr.vec_id < 10) WHERE rn = 1),
         |scored AS (SELECT probe_id, cell.cell, e.vec_id AS cand_id,
         |    ${sr5("coalesce(list_dot_product(p, e.v) / nullif(sqrt(list_dot_product(p, p)) * sqrt(list_dot_product(e.v, e.v)), 0e0), 0e0)")} AS cos
         |  FROM cell JOIN e ON e.label = cell.cell AND e.vec_id <> cell.probe_id)
         |SELECT probe_id, cell, rnk, cand_id, cos FROM (
         |  SELECT probe_id, cell, cand_id, cos, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk
         |  FROM scored) WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,
    "q138_dedup_banded_verify" ->
      s"""WITH $wordsCte,
         |wh AS (SELECT DISTINCT doc_id, wd FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS wd
         |    FROM w WHERE len(words) >= 3)),
         |hs AS (SELECT doc_id, ('0x' || substr(sha256(wd), 1, 12))::BIGINT AS h FROM wh),
         |votes AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM hs, generate_series(0, 47) AS t(j) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |    sum(CASE WHEN vote > 0 THEN CAST(pow(2e0, j) AS BIGINT) ELSE 0 END) AS simhash
         |  FROM votes GROUP BY 1),
         |banded AS (SELECT doc_id, b, (simhash >> (12 * b)) & 4095 AS bv
         |  FROM sig, generate_series(0, 3) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |sh AS (${TextPipeline.shinglesSql}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |shared AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY 1, 2)
         |SELECT s.doc_a, s.doc_b, s.shared,
         |  ${sr5("s.shared / CAST(na.n + nb.n - s.shared AS DOUBLE)")} AS jac
         |FROM shared s
         |JOIN sizes na ON na.doc_id = s.doc_a
         |JOIN sizes nb ON nb.doc_id = s.doc_b
         |WHERE ${sr5("s.shared / CAST(na.n + nb.n - s.shared AS DOUBLE)")} >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q86_dedup_simhash" ->
      s"""WITH $wordsCte,
         |wh AS (SELECT DISTINCT doc_id, wd FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 2),
         |      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS wd
         |    FROM w WHERE len(words) >= 3)),
         |hs AS (SELECT doc_id, ('0x' || substr(sha256(wd), 1, 12))::BIGINT AS h FROM wh),
         |votes AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM hs, generate_series(0, 47) AS t(j) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |    sum(CASE WHEN vote > 0 THEN CAST(pow(2e0, j) AS BIGINT) ELSE 0 END) AS simhash
         |  FROM votes GROUP BY 1),
         |banded AS (SELECT doc_id, simhash, b, (simhash >> (12 * b)) & 4095 AS bv
         |  FROM sig, generate_series(0, 3) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS ha, b.simhash AS hb
         |  FROM banded a JOIN banded b
         |  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)
}
