package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through perfbench/run.py, which builds this
  * package and passes the arguments through):
  *
  * {{{
  * Main --workload osm|analytics --seed N --seconds S
  *      --trace 0|1 --work DIR --out DIR --bench-dir DIR
  * Main --dump-analytics DIR --bench-dir DIR   (perfbench/make_expected.py)
  * }}}
  *
  * The last stdout line is the result object: `correct`, `attempted`,
  * `failed` and the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). The full run record and the spans go to `--out`.
  */
object Main {
  /** Workload sizes: small enough that set-up, a measured window and the
    * correctness checks fit a short run on a 4-core box. */
  private val OsmGrid = 16
  private val ChangesPerFile = 150
  /** Serve requests per analytics run, alternating phrase and ANN. */
  private val ServeMin = 10

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def sourceDigest(benchDir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = new File(benchDir).getAbsoluteFile.getParentFile
    val files = Seq(new File(root, "src/main"), new File(benchDir)).flatMap { d =>
      Census.fileSet(d.getPath).toSeq.filter(p => p.endsWith(".scala") || p.endsWith(".yml"))
    }.sorted
    files.foreach(p => md.update(java.nio.file.Files.readAllBytes(new File(p).toPath)))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = opts.getOrElse("bench-dir", "perfbench")
    if (opts.contains("dump-analytics")) dumpAnalytics(opts("dump-analytics"), benchDir)
    else run(opts, benchDir)
  }

  private def run(opts: Map[String, String], benchDir: String): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    val t0 = System.currentTimeMillis()
    val spark = session(work)
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, seed, seconds, tracer, work, benchDir)
    ctx.log(s"session up in ${System.currentTimeMillis() - t0} ms")
    val outcome = workload match {
      case "osm" => Workloads.runOsm(ctx, OsmGrid, ChangesPerFile)
      case "analytics" => Workloads.runAnalytics(ctx, ServeMin)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.close()
    val okFrac = 1.0 - outcome.failed.toDouble / outcome.attempted
    val e2e = outcome.e2e ++ ListMap(
      "ok_frac" -> (okFrac, "frac"),
      "peak_rss_gb" -> (Census.peakRssGb, "GB"))
    val metrics = if (trace) outcome.layers else e2e
    val tag = s"$workload-s$seed-t${if (trace) 1 else 0}"
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.io.")
    }
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "source_digest" -> sourceDigest(benchDir),
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_gb" -> Runtime.getRuntime.maxMemory / 1e9,
      "session_conf" -> ListMap.from(conf.toSeq.sorted),
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    ) ++ (if (trace) ListMap("per_layer" ->
      outcome.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }) else ListMap.empty
    ) ++ outcome.record
    new File(out).mkdirs()
    val w = new java.io.PrintWriter(new File(out, s"$tag.record.json"), "UTF-8")
    try w.println(Json(record)) finally w.close()
    if (trace) tracer.writeJsonLines(new File(out, s"$tag.spans.jsonl").getPath)
    spark.stop()
    println(Json(ListMap(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
  }

  /** Write the analytics tables and every benchmarked query's result
    * (parquet) plus its row count and digest, for make_expected.py. */
  private def dumpAnalytics(dir: String, benchDir: String): Unit = {
    val spark = session(new File(dir, "work").getPath)
    val data = new File(dir, "data").getPath
    AnalyticsData.write(spark, data)
    val oracles = graft.SparkEntry.oracleSql
    val entries = Workloads.Queries.map { case (q, module) =>
      val (rows, df) = Workloads.runQuery(spark, q, data)
      val (rows2, _) = Workloads.runQuery(spark, q, data)
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"out/$q").getPath)
      q -> ListMap("rows" -> rows.length.toLong, "digest" -> Workloads.rowsDigest(rows),
        "rerun_digest" -> Workloads.rowsDigest(rows2), "module" -> module,
        "oracle_sql" -> oracles.get(q))
    }
    val w = new java.io.PrintWriter(new File(dir, "dump.json"), "UTF-8")
    try w.println(Json(ListMap.from(entries))) finally w.close()
    spark.stop()
  }
}
