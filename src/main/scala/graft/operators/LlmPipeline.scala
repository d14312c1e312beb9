package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}

/** §2.8b LLM-training-data-pipeline operators: near/exact dedup, similarity
  * search, corpus text stats, label centroids, multimodal binary columns.
  *
  * Scale notes:
  * - q70 (MinHash): shingle → binary-hash feature vector → banded LSH join.
  *   approxSimilarityJoin explodes each doc into its hash-table buckets and
  *   joins ON bucket — candidate pairs are bucket-local, never all-pairs.
  *   This is THE 100 TB near-dup pattern (the all-pairs alternative is
  *   O(n²) and unrunnable); cost is tuned by numHashTables (recall) vs
  *   bucket skew (salt hot buckets if a shingle profile dominates).
  * - q71 (similarity search): brute-force cosine against a BROADCAST probe
  *   set — exact, and linear in corpus size, so it scales to 100 TB as one
  *   map-side pass WHEN the probe set is small. For probe sets beyond
  *   broadcast size, the scale path is LSH/IVF bucketing: pre-bucket both
  *   sides (random hyperplane signs for cosine), join on bucket, and rank
  *   within buckets — same shape as q70. Documented here as the rewrite the
  *   optimizer candidate in SURVEY §4.3 would apply above a size threshold.
  * - q74 (exact dedup): sha2-keyed first-row — one shuffle on the 256-bit
  *   content hash, never content-to-content comparison.
  */
object LlmPipeline {

  /** Near-duplicate detection: 5-WORD shingles → binary HashingTF(2^18) →
    * MinHashLSH(seed=42, 5 tables) → pairs with Jaccard distance < 0.6.
    * No SQL oracle (hash-model based); MlSpec asserts symmetry, self-distance
    * 0, and seed stability.
    *
    * Shingle granularity matters for LSH bucket balance: 5-CHAR shingles
    * over this corpus's tiny vocabulary are shared by nearly every document,
    * so min-hash buckets degenerate toward all-pairs (measured: 383 s at
    * sf0.1, ~quadratic). 5-word shingles are only shared by genuine
    * near-duplicates — buckets stay tiny and the join stays near-linear
    * (<10 s at sf0.1). The same reasoning is why word-shingles are the
    * standard choice for web-scale dedup. */
  def q70(s: SparkSession, d: String): DataFrame = {
    val shingled = documents(s, d)
      .filter(size(split(col("text"), " ")) >= 5)
      .select(col("doc_id"),
        expr("transform(sequence(1, size(split(text, ' ')) - 4), " +
          "i -> array_join(slice(split(text, ' '), i, 5), ' '))")
          .as("shingles"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // The feature relation is referenced THREE times (LSH fit + both sides
    // of the self-join); without the session memo each reference re-runs the
    // shingle transform + hashing over the corpus.
    val feats = memoized(s, d, "q70feats")(tf.transform(shingled))
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42).fit(feats)
    model.approxSimilarityJoin(feats, feats, 0.6, "jaccard_dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        r5(col("jaccard_dist")).as("dist"))
      .filter(col("doc_a") < col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Similarity search: top-5 cosine neighbors for the 10 probe vectors
    * (vec_id < 10), brute-force against the full corpus; probes broadcast
    * ([[graft.api.Graft.cosineTopK]], ranked on the 5 dp cosine). The
    * cosine itself is the native codegen'd [[graft.plans.CosineSim]]
    * expression — one fused loop per pair instead of three HOF passes. */
  def q71(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    graft.api.Graft.cosineTopK(
        e.select(col("vec_id").as("cand_id"), col("v").as("c")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("p")),
        5, corpusId = "cand_id", corpusVec = "c", probeVec = "p")
      .select(col("probe_id"), col("rank").as("rnk"), col("cand_id"),
        r5(col("cos")).as("cos"))
      .orderBy("probe_id", "rnk")
  }

  /** Corpus text stats per language: doc count, avg length, source spread,
    * dominant source. */
  def q72(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val top = docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source").as("top_source"))
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        r2(avg("n_chars")).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .join(top, "lang")
      .orderBy("lang")
  }

  /** Per-label centroid (element-wise mean embedding), then each vector's
    * cosine to its label centroid. posexplode → (label, pos) agg is
    * shuffle-native; centroids (|labels| rows) broadcast back. */
  def q73(s: SparkSession, d: String): DataFrame = {
    graft.plans.CosineSim.register(s)
    val e = embeddings(s, d)
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x").cast("double")).as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("cvec"))
    e.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        r5(expr("cosine_sim(v, cvec)")).as("cos_centroid"))
      .orderBy("vec_id")
  }

  /** Exact dedup on normalized text via sha2-256 content hash, deterministic
    * first-row (min doc_id) per hash. */
  def q74(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("sha", sha2(lower(trim(col("text"))), 256))
      .groupBy("sha")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("sha")

  /** Multimodal feature extraction — the third member of the batched-kernel
    * trio (q75 decode-meta, q95 frame-sample, q09 feature-extract): per
    * payload, a fixed-dimension feature vector computed in partition
    * batches — here a 16-bin byte-value histogram (bucket = byte >> 4),
    * L1-normalized, the deterministic stand-in for an image/audio feature
    * net (no media libs in-container; the kernel shape is what a real
    * extractor drops into). One row in → one fixed-width feature row out,
    * emitted as 16 scalar columns (the driver's comparer can't hash array
    * cells — q27 lesson). ASCII payloads make the char-arithmetic oracle
    * exact. */
  def q09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feat = documents(s, d)
      // empty payloads: match the oracle's row set (length(null) is null, so
      // this also gates null text); null ids can't enter the primitive-tuple
      // encoder — the kernel-edge null gate (r11 null-corpus sweep)
      .filter(col("doc_id").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val h = new Array[Long](16)
          var i = 0
          while (i < bytes.length) { h((bytes(i) & 0xff) >> 4) += 1; i += 1 }
          (id, bytes.length.toLong, h.toSeq)
        }
      }
      .toDF("doc_id", "n_bytes", "hist")
    val buckets = (0 until 16).map(b =>
      r5(col("hist").getItem(b) / col("n_bytes").cast("double")).as(s"b$b"))
    feat.select(col("doc_id") +: col("n_bytes") +: buckets: _*).orderBy("doc_id")
  }

  /** Multimodal resize — the fourth batched-kernel shape (with q75 decode,
    * q09 feature-extract, q95 frame-sample): downsample each payload to a
    * ≤64-byte "thumbnail" by nearest-neighbor striding (stride =
    * ceil(len/64)) — the 1-D stand-in for image resize, which is exactly
    * stride-sampling in each dimension. Output stays a BINARY column (the
    * resized asset), plus its length and fingerprint. ASCII payloads make
    * the string-striding oracle exact. */
  def q06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      // kernel-edge null gate, same rationale as q09 (r11 null-corpus sweep)
      .filter(col("doc_id").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, bytes) =>
          val stride = math.max(1, (bytes.length + 63) / 64)
          val thumb = bytes.indices.by(stride).map(bytes).toArray
          md.reset()
          (id, bytes.length.toLong, thumb.length.toLong,
            md.digest(thumb).map("%02x".format(_)).mkString)
        }
      }
      .toDF("doc_id", "n_bytes", "thumb_bytes", "thumb_sha")
      .orderBy("doc_id")
  }

  /** Multimodal-column plumbing: an opaque binary payload column + typed
    * metadata, processed in partition batches via mapPartitions (the Scala
    * analogue of batched pandas UDFs).
    *
    * STUB NOTE: real image/audio decode libraries are not in this container,
    * so the "decode kernel" is a deterministic stand-in (byte length +
    * SHA-256 of the payload, computed with java.security.MessageDigest). The
    * Spark-side plumbing — binary column, metadata struct, per-partition
    * batch loop reusing one digest instance — is real, tested, and is the
    * shape a genuine decoder drops into. */
  def q75(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = documents(s, d)
      // a null payload or id would NPE the digest / primitive encoder: a
      // real decode pipeline dead-letters those rows — here the kernel-edge
      // gate drops them (r11 null-corpus sweep); null meta fields pass
      // through fine (String/struct cells are nullable)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        struct(col("lang"), col("n_chars")).as("meta"))
    src.select(col("doc_id"), col("payload"), col("meta.lang").as("lang"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, bytes, lang) =>
          md.reset()
          val sha = md.digest(bytes).map("%02x".format(_)).mkString
          (id, bytes.length.toLong, sha, lang)
        }
      }
      .toDF("doc_id", "n_bytes", "sha", "lang")
      .orderBy("doc_id")
  }

  /** Multimodal frame-sampling: from each opaque binary payload, extract a
    * 64-byte "frame" every 4th block (stride 256) and fingerprint it —
    * the media-pipeline shape (sample every Nth video frame / audio window,
    * run a batched feature kernel, one input row → N frame rows). The
    * kernel is the same mapPartitions batched surface as q75, emitting
    * multiple rows per input; a real decoder's frame iterator drops
    * straight into the flatMap.
    *
    * STUB NOTE (same disclosure as q75): no media codecs exist in this
    * container, so frames are raw byte slices and the "feature" is SHA-256
    * via one reused MessageDigest per partition. The oracle slices the
    * source STRING — equivalent because the corpus is pure ASCII (verified:
    * octet_length(encode(text)) == length(text) for every row at every SF). */
  def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      // kernel-edge null gate, same rationale as q75 (r11 null-corpus sweep)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.flatMap { case (id, bytes) =>
          Iterator.range(0, bytes.length, 256).zipWithIndex.map { case (off, idx) =>
            val len = math.min(64, bytes.length - off)
            md.reset()
            val sha = md.digest(java.util.Arrays.copyOfRange(bytes, off, off + len))
              .map("%02x".format(_)).mkString
            (id, idx.toLong, off.toLong, len.toLong, sha)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "offset", "n_frame_bytes", "frame_sha")
      .orderBy("doc_id", "frame_idx")
  }

  /** Embedding HYGIENE: vectors whose L2 norm is an outlier within their
    * label cohort (|z| top-20) — the pre-ANN sanity gate that catches
    * corrupt/zero/blown-up embeddings before they poison similarity
    * search (a near-zero norm makes cosine meaningless; a huge norm
    * dominates dot-product retrieval).
    *
    * Determinism: the norm is a SEQUENTIAL index-order fold (Spark
    * `aggregate` ≡ DuckDB `list_dot_product` term order), 5 dp-pinned
    * before the per-label stats; z mirrors q116's audited shape with a
    * nullif-guarded spread. Scale: one row-local map + a label-grain
    * stats agg broadcast back + TakeOrderedAndProject. */
  def q182(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        graft.Tables.r5(sqrt(expr(
          "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), 0D, (acc, x) -> acc + x * x)")))
          .as("norm"))
    val st = e.groupBy("label")
      .agg(avg("norm").as("mu"), stddev_samp(col("norm")).as("sigma"))
    e.join(broadcast(st), "label")
      .select(col("vec_id"), col("label"), col("norm"),
        r4((col("norm") - col("mu")) / nullif(col("sigma"), lit(0.0)))
          .as("z"))
      .orderBy(abs(col("z")).desc, col("vec_id"))
      .limit(20)
  }

  /** Duplicate RATE by source: per provenance bucket, the share of docs
    * whose normalized content hash occurs more than once corpus-wide —
    * the "which feed is flooding me with copies" readout that turns q74's
    * corpus-level dedup into a per-source quality score (feeds ranked by
    * dup share are the first thing a crawl triages).
    *
    * Determinism: exact integer counts off q74's sha2 normalization; one
    * int/int division pinned 4 dp. Scale: one hash-keyed agg + a
    * hash-keyed join back + a source-grain agg — all keyed, row-linear. */
  def q183(s: SparkSession, d: String): DataFrame = {
    val h = documents(s, d)
      .select(col("source"), sha2(lower(trim(col("text"))), 256).as("sha"))
    val copies = h.groupBy("sha").agg(count(lit(1)).as("n_copies"))
    h.join(copies, "sha")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1L, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_share",
        r4(col("n_dup_docs").cast("double") / col("n_docs").cast("double")))
      .orderBy("source")
  }

  /** Multimodal near-dup by perceptual hash — the dedup step of the
    * media pipeline (resize → aHash → banded Hamming join), completing
    * the family: q75 decodes, q06 resizes, q09 extracts features, q95
    * samples frames, and THIS dedups the assets. The kernel computes the
    * average-hash on the q06 thumbnail (bit k = thumbnail byte k above
    * the thumbnail mean — the literal aHash construction, in 1-D);
    * candidate pairs must share one of 8 8-bit bands (the q86 SimHash
    * banding discipline — band width tunes candidate rate, never
    * all-pairs), then exact Hamming verifies; the 20 closest pairs.
    *
    * STUB NOTE (q75's disclosure): payloads are encode(text) and the
    * "resize" is byte striding; a real image thumbnailer drops into the
    * same kernel. Determinism: the above-mean bit uses INTEGER
    * cross-multiplication (b·n > Σb — no float mean), the hash is a
    * 64-char bitstring (packing into one BIGINT would overflow-trap on
    * bit 63 in one engine and not the other), and Hamming is an exact
    * integer fold; order (hamming, doc_a, doc_b). Scale: row-linear
    * kernel + band-bucketed join — the LSH shape. */
  def q257(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bits = documents(s, d)
      // kernel-edge null gate, same rationale as q09 (r11 null-corpus sweep)
      .filter(col("doc_id").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val stride = math.max(1, (bytes.length + 63) / 64)
          val thumb = bytes.indices.by(stride).map(i => bytes(i) & 0xff).toArray
          val n = thumb.length
          val total = thumb.map(_.toLong).sum
          val sb = new StringBuilder(64)
          var k = 0
          while (k < 64) {
            sb.append(if (k < n && thumb(k).toLong * n > total) '1' else '0')
            k += 1
          }
          (id, n.toLong, sb.toString)
        }
      }.toDF("doc_id", "n_thumb", "bits")
    val bands = bits.select(col("doc_id"), col("bits"),
      posexplode(expr("transform(sequence(0, 7), b -> substring(bits, b * 8 + 1, 8))"))
        .as(Seq("band", "bval")))
    // bucket-size cap — the q76 df≤50 discipline transplanted to LSH
    // buckets: a band value shared by half the corpus is non-discriminative
    // AND quadratic (measured: uncapped, the hot buckets made this the
    // inventory's slowest key at 16.5 s; capped it is ~1 s) — a real image
    // pipeline tunes band width/count instead of ever joining a hot bucket
    val keep = bands.groupBy("band", "bval").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= 50).select("band", "bval")
    // r15 session 2: the pruned band relation feeds BOTH self-join sides,
    // and each side re-executed the whole chain — documents scan, the
    // mapPartitions hash kernel, the band explode and the bucket-cap join
    // (AQE reuses neither: the duplicated subtrees differ only in aliases
    // but sit above no common exchange). Memo+cached once per session
    // (≤ 8·|docs| narrow rows); the hamming verify + top-20 stay per-run.
    val pruned = graft.Tables.memoized(s, d, "phashPruned") {
      bands.join(keep, Seq("band", "bval"))
    }
    pruned.select(col("band"), col("bval"), col("doc_id").as("doc_a"), col("bits").as("ba"))
      .join(pruned.select(col("band"), col("bval"), col("doc_id").as("doc_b"),
        col("bits").as("bb")), Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ba", "bb").distinct()
      .withColumn("hamming", expr(
        "aggregate(sequence(1, 64), 0, (acc, k) -> acc + IF(substring(ba, k, 1) = substring(bb, k, 1), 0, 1))")
        .cast("long"))
      .select("doc_a", "doc_b", "hamming")
      .orderBy(col("hamming").asc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_multimodal_phash" -> q257,
    "q182_embedding_outliers" -> q182,
    "q183_dup_rate_by_source" -> q183,
    "q70_dedup_near_minhash" -> q70,
    "q71_sim_search_topk" -> q71,
    "q72_text_stats" -> q72,
    "q73_label_centroids" -> q73,
    "q74_dedup_exact_docs" -> q74,
    "q75_multimodal_meta" -> q75,
    "q95_multimodal_frames" -> q95,
    "q09_multimodal_features" -> q09,
    "q06_multimodal_resize" -> q06)

  private val featureBuckets: String = (0 until 16).map(b =>
    s"${sr5(s"sum(CASE WHEN bkt = $b THEN 1 ELSE 0 END) / CAST(any_value(n) AS DOUBLE)")} AS b$b")
    .mkString(",\n  ")

  val oracle: Map[String, String] = Map(
    // corpus is pure ASCII (verified, q95's disclosure) so ascii(substr)
    // equals the payload byte and string striding equals byte striding
    "q257_multimodal_phash" ->
      s"""WITH src AS (SELECT doc_id, text, length(text) AS len
         |  FROM documents WHERE length(text) >= 1),
         |p AS (SELECT doc_id, text, len,
         |    greatest(1, (len + 63) // 64) AS stride FROM src),
         |t AS (SELECT doc_id,
         |    list_transform(generate_series(0, (len + stride - 1) // stride - 1),
         |      k -> ascii(substr(text, 1 + k * stride, 1))) AS thumb
         |  FROM p),
         |h AS (SELECT doc_id,
         |    array_to_string(list_transform(generate_series(0, 63),
         |      k -> CASE WHEN k < len(thumb)
         |                 AND thumb[k + 1] * len(thumb) > list_sum(thumb)
         |            THEN '1' ELSE '0' END), '') AS bits
         |  FROM t),
         |b AS (SELECT doc_id, bits, g.b AS band,
         |    substr(bits, g.b * 8 + 1, 8) AS bval
         |  FROM h CROSS JOIN generate_series(0, 7) g(b)),
         |keep AS (SELECT band, bval FROM b GROUP BY 1, 2
         |  HAVING count(*) <= 50),
         |bp AS (SELECT b.* FROM b JOIN keep USING (band, bval)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |    a.bits AS ba, c.bits AS bb
         |  FROM bp a JOIN bp c ON a.band = c.band AND a.bval = c.bval
         |    AND a.doc_id < c.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(list_sum(list_transform(generate_series(1, 64),
         |    k -> CASE WHEN substr(ba, k, 1) = substr(bb, k, 1)
         |         THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         |FROM cand
         |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin,
    "q182_embedding_outliers" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    ${sr5("sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))")} AS norm
         |  FROM embeddings),
         |st AS (SELECT label, avg(norm) AS mu, stddev_samp(norm) AS sigma
         |  FROM e GROUP BY 1)
         |SELECT vec_id, e.label, norm,
         |  ${sr4("(norm - mu) / nullif(sigma, 0.0)")} AS z
         |FROM e JOIN st ON e.label = st.label
         |ORDER BY abs(${sr4("(norm - mu) / nullif(sigma, 0.0)")}) DESC, vec_id
         |LIMIT 20""".stripMargin,
    "q183_dup_rate_by_source" ->
      s"""WITH h AS (SELECT source, sha256(lower(trim(text))) AS sha
         |  FROM documents),
         |c AS (SELECT sha, count(*) AS n_copies FROM h GROUP BY 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  ${sr4("CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_share
         |FROM h JOIN c USING (sha)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_multimodal_resize" ->
      """WITH p AS (SELECT doc_id, text, length(text) AS len,
        |    greatest(1, (length(text) + 63) // 64) AS stride FROM documents),
        |ix AS (SELECT doc_id, text, len, stride,
        |    unnest(generate_series(0, (len - 1) // stride)) AS i
        |  FROM p WHERE len >= 1),
        |th AS (SELECT doc_id, len,
        |    string_agg(substring(text, CAST(1 + i * stride AS BIGINT), 1), '' ORDER BY i) AS thumb
        |  FROM ix GROUP BY doc_id, len)
        |SELECT doc_id, CAST(len AS BIGINT) AS n_bytes,
        |  CAST(length(thumb) AS BIGINT) AS thumb_bytes, sha256(thumb) AS thumb_sha
        |FROM th ORDER BY doc_id""".stripMargin,
    "q09_multimodal_features" ->
      s"""WITH ch AS (SELECT doc_id, text, length(text) AS n,
         |    unnest(generate_series(1, CAST(length(text) AS BIGINT))) AS i
         |  FROM documents),
         |bk AS (SELECT doc_id, n, ascii(substring(text, i, 1)) // 16 AS bkt FROM ch)
         |SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_bytes,
         |  $featureBuckets
         |FROM bk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q71_sim_search_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         |sc AS (SELECT probe_id, e.vec_id AS cand_id,
         |    ${sr5("list_dot_product(pv, v) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v)))")} AS cos
         |  FROM p, e WHERE e.vec_id <> probe_id),
         |r AS (SELECT probe_id, cand_id, cos, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk
         |  FROM sc)
         |SELECT probe_id, rnk, cand_id, cos FROM r
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    "q72_text_stats" ->
      s"""WITH top AS (SELECT lang, source FROM (
         |    SELECT lang, source, row_number() OVER (PARTITION BY lang
         |      ORDER BY count(*) DESC, source) AS rn
         |    FROM documents GROUP BY lang, source) WHERE rn = 1)
         |SELECT d.lang, count(*) AS n_docs,
         |  ${sr2("avg(n_chars)")} AS avg_chars,
         |  count(DISTINCT d.source) AS n_sources,
         |  min(top.source) AS top_source
         |FROM documents d JOIN top ON d.lang = top.lang
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // DuckDB 1.0 lacks `unnest ... WITH ORDINALITY`; 1-based list indexing
    // over generate_series(1, 64) is equivalent (all vectors are 64-dim at
    // every SF — verified).
    "q73_label_centroids" ->
      s"""WITH ex AS (SELECT vec_id, label, i AS ord, embedding[i]::DOUBLE AS x
         |  FROM embeddings, generate_series(1, 64) AS t(i)),
         |c AS (SELECT label, ord, avg(x) AS cx FROM ex GROUP BY 1, 2),
         |cent AS (SELECT label, list(cx ORDER BY ord) AS cvec FROM c GROUP BY 1)
         |SELECT vec_id, e.label,
         |  ${sr5("list_dot_product(e.embedding::DOUBLE[], cvec) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(cvec, cvec)))")} AS cos_centroid
         |FROM embeddings e JOIN cent ON e.label = cent.label
         |ORDER BY vec_id""".stripMargin,
    "q74_dedup_exact_docs" ->
      """SELECT sha, keep_doc_id, n_copies FROM (
        |  SELECT sha256(lower(trim(text))) AS sha,
        |    min(doc_id) AS keep_doc_id,
        |    count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |ORDER BY sha""".stripMargin,
    "q75_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha, lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q95_multimodal_frames" ->
      """WITH p AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |ix AS (SELECT doc_id, text, len,
        |    unnest(generate_series(0, CAST(greatest(ceil(len / 256.0) - 1, 0) AS BIGINT))) AS i
        |  FROM p),
        |f AS (SELECT doc_id, i AS frame_idx, i * 256 AS off,
        |    substring(text, CAST(i * 256 + 1 AS BIGINT), 64) AS fb
        |  FROM ix WHERE i * 256 < len)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(off AS BIGINT) AS offset,
        |  CAST(length(fb) AS BIGINT) AS n_frame_bytes, sha256(fb) AS frame_sha
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)
}
