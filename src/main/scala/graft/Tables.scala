package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.concurrent.TrieMap

/** Shared table loaders + cross-engine determinism helpers (SURVEY.md §1, §2.9).
  *
  * Design notes for scale (SURVEY.md §4): every loader returns a fresh
  * parquet-backed DataFrame so Catalyst can push filters/projections into the
  * scan; nothing here collects to the driver. Shared derived relations are
  * session-scoped cached views ([[memoizedView]]); driver-side facts —
  * row counts, corpus flags, base-table schemas, prefix-scan bounds — sit
  * in one session-scoped value memo ([[value]]); [[release]] drops both.
  * A base table's parquet schema is read from one footer on the driver,
  * once per session and file state ([[table]]), so building a query runs
  * no Spark job — nor does rebuilding a memo after [[release]]. The
  * ns-timestamp recipe for `events` (SURVEY.md §1.3) is applied inside the
  * loader so every query that touches events is safe regardless of
  * session configs.
  */
object Tables {

  /** A base table as a fresh parquet relation. `spark.read.parquet` runs a
    * schema-inference Spark job on every call; here the schema is read once
    * on the driver ([[footerSchema]]), kept in the session's [[value]] memo
    * (dropped by [[release]]), and passed to `spark.read.schema`, which
    * runs no job. The memo key holds, beside (sfDir, name):
    *  - the newest modification time and the total length of the path's
    *    entries, from one driver-local listing, so a table rewritten in
    *    place (one file, or any part file of a directory) is read anew;
    *  - `spark.sql.legacy.parquet.nanosAsLong`, which decides whether a
    *    timestamp[ns] column reads as LONG (see [[events]]).
    * Every call still builds a new relation with fresh attribute ids, so
    * self-joins and plans are exactly those of a plain parquet read. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val files = path.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(path)
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val key = s"${memoName(sfDir, s"schema_$name")}." +
      s"${files.map(_.getModificationTime).foldLeft(0L)(math.max)}." +
      s"${files.map(_.getLen).sum}.$nanos"
    spark.read.schema(value(spark, key)(footerSchema(spark, path, files)))
      .parquet(path.toString)
  }

  /** The schema `spark.read.parquet(path)` infers with mergeSchema off,
    * read on the driver from ONE footer instead of by a Spark job. Spark
    * reads the footer of `_common_metadata`, else `_metadata`, else the
    * first visible data file by path (its file index hides `_`- and
    * `.`-prefixed names but keeps the two summaries); the schema is the
    * footer's Spark row metadata if present, else its parquet schema
    * converted under the session's conf (`nanosAsLong`, the NTZ and
    * binary-as-string flags). A directory with subdirectories (a
    * partitioned layout) falls back to Spark's own inference.
    * `files` is `listStatus(path)`. */
  private[graft] def footerSchema(spark: SparkSession, path: Path,
      files: Array[FileStatus]): StructType = {
    def listed(n: String) = n.startsWith("_common_metadata") || n.startsWith("_metadata")
    val visible = files.filter { f =>
      val n = f.getPath.getName
      listed(n) || !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    }.sortBy(_.getPath.toString)
    val named = (n: String) => visible.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata"))
      .orElse(visible.find(f => !listed(f.getPath.getName)))
    pick match {
      case Some(f) if !visible.exists(_.isDirectory) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f,
          spark.sessionState.newHadoopConf()))
        val meta = try reader.getFooter.getFileMetaData finally reader.close()
        Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
            .convert(meta.getSchema))
      case _ => spark.read.parquet(path.toString).schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Sanitized sfDir + a 32-bit hash: the readable part disambiguates the
    * common case and the hash covers paths that sanitize identically — two
    * sfDirs collide only if BOTH agree, i.e. effectively never (the hash
    * alone would give a 2⁻³² birthday risk per session-lifetime pair). */
  private[graft] def memoName(sfDir: String, key: String): String = {
    val sane = sfDir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sfDir))
    s"graft_memo_${key}_${sane}_$h"
  }

  /** Session-scoped memo+cache for any shared derived relation: builds (and
    * `.cache()`s) at most once per (session, sfDir, key), then resolves
    * through the session catalog — repeat calls get the cached plan via
    * CacheManager's canonical-plan substitution. Returns the VIEW NAME so
    * SQL-entry queries can reference the memo by name; [[release]] drops it
    * with the rest.
    *
    * Why: ~20 queries re-derive events (ns decode
    * + json parse) and 7 re-derive ratings; caching them once per
    * (session, sfDir) removes the repeated scan+parse without changing any
    * semantics. Each query function still stands alone — the memo is an
    * optimization, not a dependency.
    *
    * Library hygiene: relations are not kept in a map from sessions.
    * Each memoized relation is registered as a temp view in ITS OWN
    * session's catalog (a `graft_memo_*` name), so the memo's lifetime is
    * exactly the session's — drop the session and its views (and their
    * plans) are unreachable. A `WeakHashMap[SparkSession, .. DataFrame]`
    * could never release anything: every Dataset strongly references its
    * SparkSession, so the map's own values would pin its weak keys. The
    * [[value]] memo is such a weak map, and is safe only because it holds
    * plain data, never a Dataset or plan.
    *
    * One caveat no session-local scheme can remove: `df.cache()` registers
    * the plan in `SharedState.cacheManager`, which is shared by all
    * sessions of a SparkContext and holds entries until unpersisted. A
    * long-lived multi-session service should therefore call
    * [[release]] (or `spark.catalog.clearCache()`) when done with a
    * session; short-lived apps get everything back at context shutdown. */
  private[graft] def memoizedView(spark: SparkSession, sfDir: String, key: String)(
      build: => DataFrame): String = {
    val name = memoName(sfDir, key)
    this.synchronized {
      if (!spark.catalog.tableExists(name)) build.cache().createOrReplaceTempView(name)
    }
    name
  }

  private[graft] def memoized(spark: SparkSession, sfDir: String, key: String)(
      build: => DataFrame): DataFrame =
    spark.table(memoizedView(spark, sfDir, key)(build))

  /** Session-scoped memoized row count of a base table: counted at most
    * once per (session, sfDir, table), a driver-local [[value]] read with
    * ZERO Spark jobs after. Adaptive facades (q209's rankNormalize) use
    * this so their size-based path choice runs no count job per call. */
  private[graft] def memoizedCount(spark: SparkSession, sfDir: String,
      name: String): Long =
    value(spark, memoName(sfDir, s"rows_$name"))(table(spark, sfDir, name).count())

  /** The session's value memo: row counts, corpus flags and statistics,
    * base-table schemas and prefix-scan bounds, each under a string key
    * that names everything its value depends on ([[memoName]] for corpus
    * facts). Every value is plain data with no reference to its session —
    * a `Long`, `Boolean`, `StructType`, bounds `Seq` or `Array[Row]` — so
    * the weak key really dies with its session (the pinning that
    * [[memoizedView]]'s scaladoc describes needs a Dataset value).
    * [[release]] drops a session's map. */
  private val values = new java.util.WeakHashMap[SparkSession, TrieMap[String, Any]]

  private def sessionValues(spark: SparkSession): TrieMap[String, Any] =
    values.synchronized(values.computeIfAbsent(spark, _ => TrieMap.empty))

  /** The value under `key` in this session's memo, or `compute`'s, stored
    * first. `compute` runs outside every map update (TrieMap's lookup,
    * compute, insert-if-absent), so it may itself read the memo — a
    * count's compute reads its table's schema; two racing first calls
    * may both compute, and the first insert wins. */
  private[graft] def value[T](spark: SparkSession, key: String)(compute: => T): T =
    sessionValues(spark).getOrElseUpdate(key, compute).asInstanceOf[T]

  /** The keys of this session's value memo (for lifecycle checks). */
  private[graft] def valueKeys(spark: SparkSession): Set[String] =
    sessionValues(spark).keySet.toSet

  /** Drop this session's memoized views and unpersist their cached data,
    * and forget its [[value]] memo — row counts, flags, bounds and the
    * base-table schemas [[table]] keeps, so the next read of each table
    * reads its schema again. Note Spark's CacheManager is context-shared:
    * unpersisting here also evicts any other session's identical
    * (same-plan) cache entry. That cross-session evict is
    * correctness-safe — the other session's memo
    * VIEW survives in its own catalog and transparently falls back to the
    * uncached plan — and ConcurrencySpec pins it under an actual race
    * (release() looping in one session while another replays queries:
    * results stay bit-identical; the uncached events rebuild measured
    * 0.19 s vs 0.17 s warm at sf0.001, a penalty that grows with the
    * corpus since the memo's build is scan+decode-proportional). */
  def release(spark: SparkSession): Unit = this.synchronized {
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_memo_"))
      .foreach { n =>
        try spark.catalog.uncacheTable(n) catch {
          case e: Exception => System.err.println(s"[tables] release: uncache $n failed: $e")
        }
        spark.catalog.dropTempView(n)
      }
    values.synchronized(values.remove(spark))
  }

  /** Spread a NARROW-plan memo build across cores before caching (r14;
    * resized r15). A cached relation keeps its build partitioning
    * forever, and a single-file parquet scan builds at ONE split at the
    * test SFs — so every consumer's first pipeline stage (JSON parse,
    * µs arithmetic, filters, map-side partial aggs) ran serial on one
    * task regardless of core count (measured r14: q137's whole 2.0 s of
    * CPU on 3 tasks at local[32]). Hash-partitioning by `key` also lets
    * user-keyed windows/aggregations/joins downstream reuse the cache's
    * outputPartitioning instead of re-shuffling (guide §2.4 — the
    * bucketed-layout effect).
    *
    * r15 re-sizing (r14 verdict #2): the r14 form spread to
    * defaultParallelism unconditionally, and the driver measured light
    * events consumers REGRESSING (q145 2.3x, q235 1.7x — their 8-core
    * runs were FASTER than 32-core: over-partitioning was itself the
    * cost). A local[32] A/B at sf0.1 (bench/r15/) confirmed per-task
    * fixed overheads dominate thin slices: q137's summed task time was
    * 1.3 s at 4 partitions vs 9.8 s at 32 for the SAME wall, and every
    * light key's wall was flat-or-better at the small count. Partitions
    * are now sized to the DATA (guide §2.5 — partitions sized to data,
    * not cores): rows / 25k, capped at defaultParallelism, and still only
    * when the build has fewer splits than that — at production scale a
    * fact scan already yields ≥ cores splits and this is a no-op (the
    * getNumPartitions probe is safe here because the build is narrow —
    * no AQE query stages to materialize). */
  private[graft] def spreadNarrow(spark: SparkSession, df: DataFrame,
      key: Column, rows: => Long): DataFrame = {
    val target = 25000L
    val n = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (rows + target - 1) / target)).toInt
    if (df.rdd.getNumPartitions < n) df.repartition(n, key) else df
  }

  /** events.ts has shipped as BOTH timestamp[ns] (read as long under the
    * legacy flag — Spark 4 rejects ns timestamps by default,
    * PARQUET_TYPE_ILLEGAL) and timestamp[us] (read natively as
    * TIMESTAMP_NTZ). The loader normalizes either schema to the same
    * contract: `ts` = long ns since epoch for exact integer arithmetic in
    * gap/session/day-bucket queries, `tsc` = TIMESTAMP_NTZ so comparisons
    * round-trip identically to DuckDB's naive TIMESTAMP (no row carries
    * sub-microsecond precision, so both directions are lossless).
    *
    * The memo caches ONE timestamp, `ts`: each of the two took a quarter
    * of the cached bytes, and the second is one add away from the first.
    * `tsc` is a projection above the cached view (still the last column):
    * `ts div 1000` microseconds added to the naive epoch, a TIMESTAMP_NTZ
    * addition that reads no session time zone — unlike a route through a
    * zoned TIMESTAMP, which gives a different civil value under each
    * session zone. So a call on a warm memo sets no session conf.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The µs rebuild below casts NTZ -> LTZ -> unix_micros, which reads
      // the session timezone; pin it UTC for the duration of plan
      // ANALYSIS (Spark bakes the session timezone into timezone-aware
      // expressions when the Dataset is built — the cached plan keeps
      // UTC semantics afterwards), then restore the caller's setting:
      // the loader must not permanently switch timezone semantics for
      // unrelated queries the session runs later.
      val priorTz = spark.conf.getOption("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      try {
      val raw = table(spark, sfDir, "events")
      spreadNarrow(spark, raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // ns-as-long schema (timestamp[ns] parquet under the legacy flag,
          // and hand-built long fixtures): `ts` is already the contract.
          raw
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          // timestamp[us] schema (driver testdata since 2026-08-13): rebuild
          // the long-ns `ts` the integer arithmetic downstream
          // (gap/session/day-bucket queries) contracts on. Session TZ is
          // pinned UTC just above, so cast(ntz -> ltz) -> unix_micros is
          // the exact epoch value DuckDB's epoch_us(ts) computes on the
          // same naive column.
          raw.withColumn("ts",
            expr("unix_micros(cast(cast(ts as timestamp_ntz) as timestamp)) * 1000L"))
        case other =>
          // Fail LOUDLY on schema drift: a string/int/decimal ts silently
          // cast to timestamp would yield null ts/tsc in every downstream
          // query instead of one clear error at the scan.
          throw new IllegalArgumentException(
            s"events.ts has unsupported type $other (expected LONG ns, " +
              "TIMESTAMP, or TIMESTAMP_NTZ) at " + sfDir)
      }, col("user_id"), memoizedCount(spark, sfDir, "events"))
      } finally {
        priorTz match {
          case Some(tz) => spark.conf.set("spark.sql.session.timeZone", tz)
          case None => spark.conf.unset("spark.sql.session.timeZone")
        }
      }
    }.withColumn("tsc", expr(
      "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ'1970-01-01 00:00:00')"))

  /** `props.$.k` as a BIGINT item id, corrupt-tolerant. Real event streams
    * carry payloads the clean testdata never shows: truncated JSON, a
    * renamed key (both nulled by get_json_object), and non-numeric /
    * floating-point / BIGINT-overflowing ids after schema drift — which
    * Spark 4's default ANSI CAST turns into a STAGE-KILLING
    * [CAST_INVALID_INPUT]/[ARITHMETIC_OVERFLOW] (measured: one poisoned
    * row failed 30+ inventory keys in the r11 corrupt-props sweep).
    * TRY_CAST nulls them instead — the row simply drops out of item-keyed
    * work, matching the TRY_CAST(json_extract(...)) the oracle CTEs use —
    * and is bit-identical to CAST on every well-formed row, so no oracle
    * moves. The no-arg form resolves an unqualified `props`, so it is only
    * safe BEFORE any join that could make `props` ambiguous; call sites
    * after such a join must pass the disambiguated Column explicitly. */
  def itemFromProps: Column = itemFromProps(col("props"))

  def itemFromProps(props: Column): Column =
    get_json_object(props, "$.k").try_cast("BIGINT")

  /** The user–item interaction matrix (SURVEY.md §2.8 q60): item id comes from
    * the JSON `props.$k`, rating is the mean event value per (user, item).
    * Kept UNROUNDED here — each consumer rounds at its output edge (§2.9.2).
    */
  def ratings(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "ratings") {
      events(spark, sfDir)
        .select(
          col("user_id"),
          itemFromProps.as("item"),
          col("value"))
        .groupBy("user_id", "item")
        .agg(avg("value").as("rating"))
    }

  /** Spread a PAIR-FEEDING memo's cache wider than [[spreadNarrow]] would
    * (r15). capped50/contrib1024 are small relations (≤50/≤1024 rows per
    * key) whose hot consumers EXPLODE them ~2–3 orders of magnitude — the
    * user-pair self-joins behind q64/q88/q107 stream the cache and
    * broadcast the other side, so the whole 25M-row pair pipeline's
    * parallelism IS the cache's partition count (measured r15: AQE
    * coalesced the build to 4 partitions and q64's 10 s of summed dot-agg
    * time ran 4-way). Per-partition cost here is fan-out-proportional,
    * not row-proportional, so these memos use a much smaller row target
    * (2048 rows per partition → the core cap at the bench SFs, ~1
    * partition on the tiny test fixtures). `rows` is
    * the base events count — an upper bound for both grains (≤1 row per
    * event) that costs no extra job. */
  private def spreadFanout(spark: SparkSession, sfDir: String, df: DataFrame,
      key: Column): DataFrame = {
    val target = 2048L
    val rows = memoizedCount(spark, sfDir, "events")
    val n = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (rows + target - 1) / target)).toInt
    // no getNumPartitions guard here (unlike spreadNarrow): these builds
    // contain exchanges, so the static probe would report the raw
    // shuffle-partition count while the runtime cache layout is whatever
    // AQE coalesces to — the explicit repartition IS the point
    if (n <= 1) df else df.repartition(n, key)
  }

  /** Ratings capped to each user's top-50 items (by 4dp-rounded rating,
    * item tiebreak) — the similarity-computation input for user-kNN (q64).
    * Cached like `ratings`: the pair self-join and its mirror reference
    * this relation many times, and without caching each reference re-runs
    * the window's shuffle+sort (measured 2× the whole query's time at
    * sf0.1). The cap itself is the 100 TB fan-out bound — see
    * Recommender.q64. */
  def cappedRatings(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "capped50") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(r4(col("rating")).desc, col("item"))
      ratings(spark, sfDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50).drop("rn")
    }

  /** [[cappedRatings]] further restricted to each ITEM's top-1024
    * contributors ([[graft.api.Graft.perKeyTopContributors]]) — q64's
    * similarity input. Cached for the same reason as the top-50 cap:
    * q64's plan references this relation three times (both pair-join
    * sides and the norms), and without caching each reference re-runs
    * the support aggregation, threshold window and back-join (measured
    * 4× the whole query's steady time at sf0.1). The cap never binds at
    * the test SFs — see Recommender.q64 for the 100 TB rationale. */
  def contribRatings(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "contrib1024") {
      spreadFanout(spark, sfDir,
        graft.api.Graft.perKeyTopContributors(
          cappedRatings(spark, sfDir), Seq("item"), r4(col("rating")), 1024),
        col("user_id"))
    }

  /** Item-pair co-occurrence support over [[cappedRatings]] — the shared
    * input of the co-occurrence family (q107 PMI, q134 triangles): one
    * user-keyed self-join, pairs canonicalized item_a < item_b, counted.
    * Cached because each consumer's plan references it (or its top-k)
    * multiple times and the pair explosion is the expensive part. */
  def pairSupport(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "pairsupport") {
      val r = cappedRatings(spark, sfDir).select(col("user_id"), col("item"))
      r.select(col("user_id"), col("item").as("item_a"))
        .join(r.select(col("user_id"), col("item").as("item_b")), "user_id")
        .filter(col("item_a") < col("item_b"))
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
    }

  /** Item-pair co-rating dot products over [[ratings]] — the shared input
    * of the item-similarity family (q63 top cosine pairs, q88 item-kNN
    * predictions): one user-keyed self-join, pairs canonicalized
    * i1 < i2, dot products partially aggregated map-side. Cached because
    * two keys derive their cosines from it and the per-user pair
    * explosion is each plan's dominant cost. Values are identical to the
    * inline form (same plan, same summation); consumers still pin at
    * their output edge. */
  def itemDots(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "itemdots") {
      val r = ratings(spark, sfDir)
      val a = r.select(col("user_id"), col("item").as("i1"), col("rating").as("x1"))
      val b = r.select(col("user_id"), col("item").as("i2"), col("rating").as("x2"))
      a.join(b, "user_id").filter(col("i1") < col("i2"))
        .groupBy("i1", "i2").agg(sum(col("x1") * col("x2")).as("dot"))
    }

  /** The q62 mean-centered bias predictor scored over every observed
    * (user, item) — shared by q62 (the predictions themselves) and q136
    * (their calibration deciles). Both output columns carry the 4 dp pin,
    * so consumers compare/aggregate identical doubles. */
  def biasScored(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "biasscored") {
      val r = ratings(spark, sfDir)
      val mu = r.agg(avg("rating").as("mu"))
      val bu = r.groupBy("user_id").agg(avg("rating").as("user_avg"))
      val withBu = r.crossJoin(broadcast(mu)).join(bu, "user_id")
        .withColumn("bu", col("user_avg") - col("mu"))
      val bi = withBu.groupBy("item")
        .agg(avg(col("rating") - col("mu") - col("bu")).as("bi"))
      withBu.join(broadcast(bi), "item")
        .select(col("user_id"), col("item"),
          r4(col("mu") + col("bu") + col("bi")).as("pred"),
          r4(col("rating")).as("rating"))
    }

  /** Score support of the q62 bias predictor — the shared rank grain of
    * the model-eval family (q136 calibration bins, q265 AUC, q266 gains/
    * lift): per pinned pred, the row count, positive count (rating ≥ 4)
    * and rating sum. Memo+cached (r14) because the pred grid is NEARLY
    * UNIQUE per row (72,614 distinct of 73,004 scored rows at sf0.1 —
    * "shrink to the support" shrinks nothing for a continuous score), so
    * this is a fact-sized aggregation; each consumer's prefix scan
    * references its support three times and three queries consume it, so
    * uncached the same fact-sized agg ran 12+ times per bench pass
    * (measured r14: ~2.5–5.5 s summed pipeline time per copy at sf0.1).
    * Consumers project the columns they need; values are bit-identical to
    * their previous inline aggs (same grouping, same addends). */
  def predSupport(spark: SparkSession, sfDir: String): DataFrame =
    memoized(spark, sfDir, "predsup") {
      biasScored(spark, sfDir).groupBy("pred").agg(
        count(lit(1)).as("t"),
        sum(when(col("rating") >= 4.0, 1L).otherwise(0L)).as("cp"),
        sum("rating").as("sr"))
    }

  /** DuckDB-side CTE mirroring `ratings` — splice into oracle SQL. */
  val ratingsSql: String =
    "SELECT user_id, TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item, avg(value) AS rating FROM events GROUP BY 1, 2"

  /** Cross-engine deterministic rounding (§2.9.2). Spark's builtin `round` is
    * BigDecimal(shortest-decimal-string)-based while DuckDB's is binary-double
    * based; they disagree on values whose shortest repr is a half-way point
    * (e.g. 19570.815 → .82 vs .81 — hit in round-1 local diffing). So BOTH
    * engines get the same explicit formula floor(x*p + 0.5)/p computed in
    * IEEE doubles: multiply, add, floor, divide are bit-deterministic and
    * neither engine fuses them, so results are identical by construction.
    */
  private def pw(n: Int): Double = math.pow(10, n.toDouble)
  def rnd(c: Column, n: Int): Column = floor(c * lit(pw(n)) + lit(0.5)) / lit(pw(n))
  def r2(c: Column): Column = rnd(c, 2)
  def r4(c: Column): Column = rnd(c, 4)
  def r5(c: Column): Column = rnd(c, 5)

  /** The same rounding formula as a SQL snippet. Literals use exponent form
    * (`100e0`, `0.5e0`) because BOTH Spark SQL and DuckDB parse those as
    * DOUBLE, whereas `100.0` parses as DECIMAL(4,1) in Spark SQL — which made
    * the whole expression (and the written parquet column) DECIMAL while
    * DuckDB computed DOUBLE → driver hash mismatch (round-1 q23/q24/q25).
    */
  def sqlRnd(e: String, n: Int): String = {
    val p = pw(n).toLong
    s"floor(($e) * ${p}e0 + 0.5e0) / ${p}e0"
  }
  def sr2(e: String): String = sqlRnd(e, 2)
  def sr4(e: String): String = sqlRnd(e, 4)
  def sr5(e: String): String = sqlRnd(e, 5)

  /** Exact integer FLOOR division as a Spark SQL snippet (b > 0). Spark's
    * `div` truncates toward zero while DuckDB's `//` floors — they agree
    * only for non-negative numerators, so any epoch-bucket index
    * `(ts - epoch0) div unit` silently depends on no row preceding the
    * epoch. `(a - pmod(a, b)) div b` floors for ALL a: pmod is in [0, b),
    * the adjusted numerator divides exactly, and exact division equals the
    * mathematical floor. Keeps day/week bucket indexes cross-engine
    * identical even for pre-epoch rows. */
  def sqlFloorDiv(a: String, b: String): String =
    s"((($a) - pmod(($a), ($b))) div ($b))"
}
