package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Main, Verify, Bench, PlanDump,
  * QueryProfile and the test base all build through `build`, so the plans
  * the oracle certifies, the plans the bench times and the plans the CLI
  * runs come from one conf. No other file builds a session; the diff
  * apply's interpreted session (`applySession`) is derived here too.
  *
  * The AQE initial shuffle-partition count is the one setting that varies
  * per phase: `sizeToInput` sizes it to the input of the phase about to
  * run. With coalescing on, the initial count bounds per-partition bytes
  * (spill) while the effective count stays data-sized — but a flat
  * `8×cores` (the r10 spelling) taxes every small stage with 256-way
  * initial shuffles: generalization on a 100 MB extract measured
  * 2.84 s at 32 initial vs 5.6–7.2 s at 256, a pure scheduling cost
  * that also rode along at scales where it bought nothing. So the
  * count is sized to the INPUT BYTES of the phase about to run
  * (r10 verdict #2), clamped to [cores, 8×cores]:
  *
  *  - ~100 MB compressed PBF (synth400) → cores (r9 behavior, no tax);
  *  - ~1 GB (synth4000, 79M elements) → 8×cores — the setting that took
  *    the J1 assembly from 284.6 s / 13.5 GB mem-spill (32 partitions ≈
  *    2.5 GB each) to 144.9 s with 0.39 GB peak task memory.
  *
  * The divisor models observed expansion: 1.05 GB of compressed PBF
  * produced 10.4 GB of assembly shuffle write (~10×), so one initial
  * partition per 4 MB of input targets ≤ ~40–64 MB post-shuffle
  * partitions. On a cluster the same arithmetic holds per executor —
  * size initial partitions to data, never to a core-count constant.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees — a silent
    * local[4] on a 32-core box would report 8× the real wall time. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session conf for `cores` local cores. Every key here can change
    * a plan or what a stage writes to scratch disk. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // 10 MB is a cluster-conservative default; on a single 16g-heap box
    // a 64 MB build side is cheap, and it lets AQE flip the import's
    // assembly semi-join (a ~22 MB id set probe side at synth400 scale)
    // to a broadcast join — no shuffle of the wide ways rows. At planet
    // scale the id set outgrows any threshold and AQE keeps the shuffle.
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // zstd for shuffle/spill/broadcast streams (lz4 is the Spark
    // default): ~1.5-2× smaller on this data, and scratch DISK — not
    // CPU — is the scale ceiling here (r11: the 24×/30× import probes
    // died on ~64 GB free with lz4 shuffle files). rdd.compress covers
    // the DISK_ONLY / spilled stage-cache blocks, which are serialized
    // but UNcompressed by default — at 79M elements those blocks rival
    // the shuffle files in bytes.
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress" -> "true",
    // events.ts is parquet TIMESTAMP(NANOS): read as long (ns since epoch)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // A state-store view passes every bucket dir as its own path, so a
    // full read hands Spark 100s–1000s of paths. Above this threshold
    // (default 32) Spark lists them with one distributed job per view:
    // ~170 ms of job overhead × ~33 tables was 5.7 s of a diff apply,
    // while the driver lists the same dirs in under a millisecond each.
    // Against object storage a deployment may want the opposite.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "65536",
    "spark.ui.enabled" -> "false")

  /** The active session unchanged when one exists: `getOrCreate` would
    * apply this conf's runtime SQL keys to it, rewriting the conf a caller
    * (a test, an embedding application) already chose. Otherwise a new
    * `local[cores]` session (`SPARK_GRAFT_MASTER` overrides the master).
    * `deploy` holds deployment settings only — UI, warehouse dir, driver
    * host — and may not touch a key of `conf`, except to turn the UI on. */
  def build(appName: String, cores: Int = Session.cores,
      deploy: Map[String, String] = Map.empty): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped).getOrElse {
        val base = conf(cores)
        require(deploy.keySet.forall(k => k == "spark.ui.enabled" || !base.contains(k)),
          s"deployment settings may not override session conf: ${deploy.keySet}")
        val s = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
          .appName(appName)
          .config(base ++ deploy)
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }

  /** The session a diff apply runs on: a `newSession()` of the caller's
    * (same SparkContext, cache manager and catalog; its own SQL conf,
    * temporary views and UDF registrations), carrying the caller's runtime
    * SQL conf plus [[Interpreted]]. The caller's own conf is never
    * written, so its later queries plan exactly as before. */
  def applySession(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    // only the keys that differ: static SQL and Spark core keys hold the
    // same values in both sessions and may not be set
    val own = s.conf.getAll
    (caller.conf.getAll ++ Interpreted).foreach { case (k, v) =>
      if (!own.get(k).contains(v)) s.conf.set(k, v)
    }
    s
  }

  /** Expressions and plans evaluated interpreted, none compiled. A diff
    * apply runs O(changed) rows through ~200 distinct plans once each, so
    * Janino compiles and the JIT warming the generated classes cost more
    * than the rows (4-core VM, a 150-change file: ~217 compiles and
    * 17–25 s of JIT CPU in an 8–11 s apply, against ~2.8 s of task time).
    * Both keys are needed: without whole-stage codegen each operator still
    * compiles its projections and predicates unless the factory mode is
    * NO_CODEGEN (219 compiles with `wholeStage=false` alone).
    * `factoryMode` is an internal Spark conf, documented as not for end
    * users and free to change between releases, so `ApplySessionSpec`
    * checks the effect itself: a new expression compiles nothing on this
    * session. The bulk import, init, reads and queries keep codegen: over
    * millions of rows the compiled code pays for itself. */
  val Interpreted: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  val InitialPartitionsKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Recursive byte size of a file or directory, resolved through the
    * Hadoop FileSystem so URI-form paths (`file:/…`, `hdfs://…`, `s3a://…`)
    * size correctly — `java.io.File` alone would report 0 for those and
    * silently pick the spill-prone narrow partition count. Returns 0 when
    * the path can't be sized (missing, glob, no filesystem). */
  def inputBytes(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Exception => 0L }

  /** Initial shuffle-partition count for `bytes` of compressed input:
    * one partition per 4 MB, clamped to [cores, 8×cores]. An UNSIZEABLE
    * input (bytes ≤ 0) gets the 8×cores ceiling: the failure modes are
    * asymmetric — a too-wide count costs a flat few seconds of scheduling
    * on a small input, a too-narrow one re-enters the measured
    * 2.5 GB-partition spill regime (284.6 s at 79M elements). */
  def initialPartitionsFor(bytes: Long, cores: Int): Int =
    if (bytes <= 0) 8 * cores
    else math.max(cores, math.min(8L * cores, bytes / (4L << 20)).toInt)

  /** Set the AQE initial partition count for the phase about to execute,
    * sized to its input paths. Safe to call between phases: AQE reads the
    * conf at query execution, not plan construction. Returns the count. */
  def sizeToInput(spark: SparkSession, paths: Seq[String]): Int = {
    val bytes = paths.map(inputBytes(spark, _)).sum
    val n = initialPartitionsFor(bytes, spark.sparkContext.defaultParallelism)
    spark.conf.set(InitialPartitionsKey, n.toString)
    System.err.println(
      s"[tuning] initial shuffle partitions = $n (${bytes >> 20} MB input)")
    n
  }
}
