package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.build("graft-verify")
    Session.sizeToInput(spark, Seq(sfDir))
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (unset in the driver environment): run only a
    // comma-separated subset of queries, and restrict the oracle dump to it
    // so tools/check.py compares exactly that subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The oracle inventory is static — write it BEFORE running anything.
    // If this JVM is killed partway (environment timeout / OOM), every
    // not-yet-dumped query then surfaces in the compare as an explicit
    // "no spark output" failure instead of silently vanishing from the
    // round's correctness file (round 6 lost 5 green queries that way).
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sorted order: a partial run loses a predictable alphabetic tail,
    // and per-query progress lines date any stall in the driver's log.
    val t0 = System.nanoTime()
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1))
      .foreach { case (name, fn) =>
        val tq = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime() - tq) / 1e9}%.1fs " +
            f"(t+${(System.nanoTime() - t0) / 1e9}%.0fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // several queries persist intermediates (minhash signatures,
        // semantic-dedup pairs) the lazy result frame can't release; over
        // a 147-query single-JVM run they accumulate into exactly the
        // memory pressure that slows (or kills) the tail. Same hygiene as
        // Bench: each query pays for its own caches only.
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
