package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every entry point (Bench, Verify,
  * Scale, Probe) and the test session. */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, AQE with its skew-join split (the runtime hot-key guard, stated
    * explicitly so the knobs are visible) and no UI, logging at WARN.
    * `scratch` points spark.local.dir at [[scratchDir]] when one is
    * available. `conf` pairs are applied last, so they override any of
    * the above. */
  def local(cpus: String, scratch: Boolean,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
    val localDir = if (scratch) scratchDir.map("spark.local.dir" -> _).toSeq else Nil
    val spark = (localDir ++ conf).foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle/spill scratch directory for the measured entry points (r14).
    * Spark's shuffle writers pay a fixed per-map-task filesystem cost
    * (BypassMergeSortShuffleWriter opens one temp file per reduce partition,
    * then merges into data+index files — ~R+2 creates/closes per map task,
    * each with a compression-stream setup); on an ext4 root disk that
    * measured ~60–100 ms of shuffle-write time PER MAP TASK regardless of
    * payload (1.5 KB exchanges showed 1.8–2.7 s of summed write time across
    * 32 tasks), which multiplied by the ~15 sequential exchanges of a typical
    * inventory key dominated sub-second queries. Pointing spark.local.dir at
    * a tmpfs (/dev/shm, 128 GiB on the measuring host) removes the filesystem latency:
    * measured q211 1.50→0.95 s, q256 1.84→1.10 s, q210 3.06→2.41 s min-of-5.
    *
    * Production analogue: provisioning fast local NVMe for shuffle scratch
    * (optimization guide §2.1 — local disk bandwidth for shuffle can be the
    * tighter limit; §9 assumes machines with fast local disks). This is an
    * environment provisioning choice, not a semantics change: shuffle files
    * are transient per-JVM state and Spark cleans its unique spark-<uuid>
    * subdirectory on exit.
    *
    * Env contract: `SPARK_GRAFT_LOCAL_DIR=<path>` forces a directory,
    * `SPARK_GRAFT_LOCAL_DIR=` (empty) disables the override entirely, unset
    * picks /dev/shm when it is writable with ≥8 GiB usable (the bench's
    * shuffles are MBs; deep Scale probes which deliberately measure the
    * disk-spill regime run without it). A caller-set SPARK_LOCAL_DIRS
    * always wins — Spark ignores spark.local.dir then. */
  private def scratchDir: Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
    case Some("") => None
    case Some(p) => Some(p)
    case None =>
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= 8L * 1024 * 1024 * 1024) {
        val sub = new java.io.File(shm, "graft-local")
        sub.mkdirs()
        Some(sub.getAbsolutePath)
      } else None
  }
}
