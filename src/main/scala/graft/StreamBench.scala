package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Throughput micro-bench for the streaming twins (r10 verdict task #4:
  * StreamingSpec proves stream ≡ batch, but no RATE number existed for the
  * streaming path). For each stateful shape behind q80/q81/q82/q225/q254/
  * q279, the events table is fed through a MemoryStream and the query is
  * timed end-to-end in TWO arrival regimes:
  *
  *  - `onebatch`: all rows pre-added, `Trigger.AvailableNow` — MemoryStream
  *    reports ReadAllAvailable so this processes in a single micro-batch;
  *    the ceiling number (state inserts, no cross-batch replay).
  *  - `inc<k>`: the same rows split into k arrival chunks, one explicit
  *    micro-batch each (`processAllAvailable` after each `addData`) under a
  *    1 h watermark in APPEND mode — per-batch state lookup/update/eviction
  *    and watermark advance included; the number a continuously-running
  *    pipeline actually sustains.
  *
  * Output: one JSON line per (shape, regime) with seconds, input rows and
  * rows/s (min of SPARK_GRAFT_PROBE_RUNS=2 runs), plus a trailing summary
  * line. Archived per-round as STREAMBENCH.json.
  *
  * Sizing note: rows/s here is single-JVM local[N]; state is partitioned by
  * the group key (shuffle-partition count = the CLI's 32), so on a real
  * cluster the same plans scale out with executors — the artifact's value is
  * cross-round comparability, not absolute cluster throughput.
  *
  * Sections (env `SPARK_GRAFT_STREAM_SECTIONS`, default all): `main` per-
  * shape regimes + batch-cost breakdown, `sweep` chunk-size fit + RocksDB +
  * no-data-batch comparison, `partitions` the state-store-count sweep that
  * measures the "fewer stores to commit" lever in SCALING.md's sizing
  * rule. */
object StreamBench {

  // tsc as LTZ Timestamp: watermarks require it; session TZ is pinned UTC so
  // wall-clock values match the batch twins' NTZ column (StreamingSpec's Ev)
  case class SEv(event_id: Long, user_id: Long, event_type: String,
    value: Double, tsc: Timestamp)

  val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "tumbling" -> streaming.Streaming.tumbling,
    "sliding" -> streaming.Streaming.sliding,
    "session" -> streaming.Streaming.session,
    "burst" -> streaming.Streaming.burst,
    "daily_pairs" -> streaming.Streaming.dailyPairs,
    // keptHourly sets its own watermark — passed the raw stream
    "kept_hourly" -> ((df: DataFrame) => streaming.Streaming.keptHourly(df)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt
    val nChunks = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNKS", "20").toInt
    // keep every micro-batch's progress for the inc100 sweep (default
    // retention is 100 progress objects — the 100-chunk run plus its
    // watermark-advance no-data batches would silently truncate)
    val spark = Session.local(cpus, scratch = false,
      conf = Seq("spark.sql.streaming.numRecentProgressUpdates" -> "512"))
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // arrival order = event_id, the same order q279's audit replays
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("tsc").cast("timestamp").as("tsc"))
      .as[SEv].collect().sortBy(_.event_id).toIndexedSeq
    val n = rows.length

    def f1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    var uniq = 0

    def oneBatch(fn: DataFrame => DataFrame): Double = {
      val ms = MemoryStream[SEv]
      ms.addData(rows)
      uniq += 1
      val t0 = System.nanoTime()
      val q = fn(ms.toDF)
        .writeStream.format("memory").queryName(s"sb_$uniq")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    /** One incremental run: `kChunks` arrival chunks, one explicit
      * micro-batch each. Returns wall seconds, the number of micro-batches
      * Spark actually ran (data batches + watermark-advance no-data
      * batches), and the summed per-component durations from
      * StreamingQueryProgress — the breakdown that locates the per-batch
      * fixed cost (r11 verdict task #2). `provider` optionally swaps the
      * state store (RocksDB vs the default HDFS-backed) for THIS run. */
    def incremental(name: String, fn: DataFrame => DataFrame, kChunks: Int,
        provider: Option[String] = None,
        noDataBatches: Boolean = true,
        shufflePartitions: Option[Int] = None): (Double, Int, Map[String, Double]) = {
      val chunkSz = math.max(1, (n + kChunks - 1) / kChunks)
      val cs = rows.grouped(chunkSz).toIndexedSeq
      val ms = MemoryStream[SEv]
      uniq += 1
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val shufKey = "spark.sql.shuffle.partitions"
      val prior = spark.conf.getOption(providerKey)
      val priorNd = spark.conf.getOption(noDataKey)
      val priorShuf = spark.conf.get(shufKey)
      provider.foreach(spark.conf.set(providerKey, _))
      // streaming queries pin shuffle-partition count (= state-store count)
      // at FIRST start from the session conf, so setting it here scopes the
      // override to this run's query
      shufflePartitions.foreach(p => spark.conf.set(shufKey, p.toString))
      spark.conf.set(noDataKey, noDataBatches.toString)
      try {
        // kept_hourly carries its own watermark; every other shape gets the
        // same 1 h delay so append mode can finalize+evict as arrivals advance
        val src =
          if (name == "kept_hourly") ms.toDF
          else ms.toDF.withWatermark("tsc", "1 hour")
        val t0 = System.nanoTime()
        val q = fn(src)
          .writeStream.format("memory").queryName(s"sb_$uniq")
          .outputMode("append").start()
        cs.foreach { c => ms.addData(c); q.processAllAvailable() }
        q.stop(); q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val progs = q.recentProgress
        val dur = scala.collection.mutable.Map.empty[String, Double]
        progs.foreach { p =>
          p.durationMs.forEach { (k, v) =>
            dur(k) = dur.getOrElse(k, 0.0) + v.toDouble }
          p.stateOperators.foreach { so =>
            dur("stateCommit") = dur.getOrElse("stateCommit", 0.0) + so.commitTimeMs.toDouble
            dur("stateUpdates") = dur.getOrElse("stateUpdates", 0.0) + so.allUpdatesTimeMs.toDouble
            dur("stateRemovals") = dur.getOrElse("stateRemovals", 0.0) + so.allRemovalsTimeMs.toDouble
          }
        }
        (sec, progs.length, dur.toMap)
      } finally {
        prior match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
        priorNd match {
          case Some(v) => spark.conf.set(noDataKey, v)
          case None => spark.conf.unset(noDataKey)
        }
        spark.conf.set(shufKey, priorShuf)
      }
    }

    // Section selector: "main" (per-shape onebatch/incN + batch-cost
    // breakdown), "sweep" (chunk-size fit + RocksDB + no-data-batch
    // comparison), "partitions" (state-store-count sweep). A single section
    // can be re-measured standalone and its lines appended to
    // STREAMBENCH.json without re-running the ~20 min full matrix.
    val sections = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECTIONS",
      "main,sweep,partitions").split(",").map(_.trim).toSet

    val results = if (!sections("main")) Seq.empty else shapes.flatMap { case (name, fn) =>
      val ob = (1 to runs).map(_ => oneBatch(fn)).min
      val incRuns = (1 to runs).map(_ => incremental(name, fn, nChunks))
      val (inc, nb, dur) = incRuns.minBy(_._1)
      println(s"""{"metric":"streambench","shape":"$name","regime":"onebatch","sec":${f3(ob)},"rows":$n,"rows_per_sec":${f1(n / ob)}}""")
      println(s"""{"metric":"streambench","shape":"$name","regime":"inc$nChunks","sec":${f3(inc)},"rows":$n,"rows_per_sec":${f1(n / inc)}}""")
      // the per-micro-batch cost breakdown of the best inc run: durationMs
      // components (triggerExecution ⊇ addBatch ⊇ the plan run; walCommit +
      // commitOffsets are the per-batch offset/commit-log file IO) plus the
      // state-store operator timers, all as mean ms per micro-batch
      val perBatch = dur.toSeq.sortBy(-_._2).map { case (k, v) =>
        s""""$k":${f1(v / math.max(1, nb))}""" }.mkString(",")
      println(s"""{"metric":"streambench_batchcost","shape":"$name","regime":"inc$nChunks","batches":$nb,"ms_per_batch":{$perBatch}}""")
      Seq(name -> ("onebatch", ob), name -> (s"inc$nChunks", inc))
    }

    // Chunk-size sweep + state-store comparison (r11 verdict task #2) on a
    // representative subset: tumbling (plain windowed agg), session (state
    // merge), kept_hourly (dedup-style watermark accounting). Fits the
    // per-batch fixed cost b from t(k) ≈ a + b·k over k ∈ {5, 20, 100}
    // (total rows constant, so the data-proportional part a is ~constant):
    // least-squares slope over the three points.
    val sweepShapes = shapes.filter(s => Set("tumbling", "session", "kept_hourly")(s._1))
    val rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val fixedCosts = if (!sections("sweep")) Seq.empty else sweepShapes.map { case (name, fn) =>
      val ks = Seq(5, nChunks, 100)
      val pts = ks.map { k =>
        val (t, nb, _) = incremental(name, fn, k)
        println(s"""{"metric":"streambench_sweep","shape":"$name","chunks":$k,"batches":$nb,"sec":${f3(t)},"rows":$n,"rows_per_sec":${f1(n / t)}}""")
        (k.toDouble, t)
      }
      val mk = pts.map(_._1).sum / pts.length
      val mt = pts.map(_._2).sum / pts.length
      val b = pts.map { case (k, t) => (k - mk) * (t - mt) }.sum /
        pts.map { case (k, _) => (k - mk) * (k - mk) }.sum
      val a = mt - b * mk
      println(s"""{"metric":"streambench_fixedcost","shape":"$name","sec_per_batch":${f3(b)},"sec_base":${f3(a)},"points":{${pts.map { case (k, t) => s""""${k.toInt}":${f3(t)}""" }.mkString(",")}}}""")
      val (tR, nbR, _) = incremental(name, fn, nChunks, Some(rocksdb))
      println(s"""{"metric":"streambench","shape":"$name","regime":"inc${nChunks}_rocksdb","sec":${f3(tR)},"rows":$n,"rows_per_sec":${f1(n / tR)},"batches":$nbR}""")
      // every processAllAvailable runs a DATA batch plus a watermark-advance
      // NO-DATA batch (the default that finalizes+emits append-mode results
      // promptly); disabling them halves the micro-batch count at the cost
      // of append results finalizing only on the NEXT data batch — measure
      // what that buys so the sizing rule can cite it
      val (tNd, nbNd, _) = incremental(name, fn, nChunks, noDataBatches = false)
      println(s"""{"metric":"streambench","shape":"$name","regime":"inc${nChunks}_nonodata","sec":${f3(tNd)},"rows":$n,"rows_per_sec":${f1(n / tNd)},"batches":$nbNd}""")
      name -> b
    }

    // State-store-count sweep (r12): SCALING.md's sizing rule names "cut
    // spark.sql.shuffle.partitions for the stream (fewer stores to commit)"
    // as the fixed-cost lever — this MEASURES it. Each stateful operator
    // keeps one state store per shuffle partition and every store commits a
    // delta file per micro-batch, so if the per-batch fixed cost really is
    // store-commit-dominated (the batch-cost breakdown says it is), wall
    // cost per batch should fall near-linearly with the partition count
    // while the marginal row cost (100 k rows here) barely moves. 32 is the
    // CLI-config control re-run in the same session for comparability.
    if (sections("partitions")) sweepShapes.foreach { case (name, fn) =>
      Seq(32, 8, 4, 1).foreach { p =>
        val rs = (1 to runs).map(_ =>
          incremental(name, fn, nChunks, shufflePartitions = Some(p)))
        val (t, nb, dur) = rs.minBy(_._1)
        val perBatch = Seq("stateCommit", "stateUpdates", "stateRemovals",
            "triggerExecution").flatMap { k =>
          dur.get(k).map(v => s""""$k":${f1(v / math.max(1, nb))}""") }
          .mkString(",")
        println(s"""{"metric":"streambench_partitions","shape":"$name","partitions":$p,"chunks":$nChunks,"batches":$nb,"sec":${f3(t)},"rows":$n,"rows_per_sec":${f1(n / t)},"ms_per_batch":{$perBatch}}""")
      }
      // both levers stacked (8 stores + no watermark-advance batches):
      // the throughput-oriented deployment the sizing rule recommends,
      // measured rather than inferred from the two single-lever runs
      val rsS = (1 to runs).map(_ => incremental(name, fn, nChunks,
        noDataBatches = false, shufflePartitions = Some(8)))
      val (tS, nbS, _) = rsS.minBy(_._1)
      println(s"""{"metric":"streambench_partitions","shape":"$name","partitions":8,"chunks":$nChunks,"batches":$nbS,"sec":${f3(tS)},"rows":$n,"rows_per_sec":${f1(n / tS)},"regime":"nonodata"}""")
    }

    if (sections("main")) {
      val summary = results.map { case (name, (reg, t)) =>
        s""""${name}_$reg":${f1(n / t)}""" }.mkString("{", ",", "}")
      // fixed_sec_per_batch only when the sweep section actually ran: a
      // sections=main run previously emitted {} — a silent shape change
      // for STREAMBENCH.json consumers that always saw the three swept
      // shapes (r12 ADVICE)
      val fcSummary =
        if (!sections("sweep")) ""
        else s""","fixed_sec_per_batch":${fixedCosts.map { case (k, v) =>
          s""""$k":${f3(v)}""" }.mkString("{", ",", "}")}"""
      println(s"""{"metric":"streambench_summary","unit":"rows_per_sec","rows":$n,"chunks":$nChunks,"runs":$runs,"shapes":$summary$fcSummary,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
