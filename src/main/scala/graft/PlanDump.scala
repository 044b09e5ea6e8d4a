package graft

import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Measurement tool (optimization rounds): dump `.explain("formatted")`
  * for a set of declared queries to files, so plan claims (Exchange
  * count, join strategy, PushedFilters/ReadSchema) are committed
  * artifacts a reviewer can diff without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] [name,name,...]
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "plan").
  * The session comes from `Session.build`, so the dumped plan is the
  * benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "plan"
    val names =
      if (args.length > 3) args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.benchQueries
    val spark = Session.build("graft-plandump")
    Session.sizeToInput(spark, Seq(sfDir))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
