package graft

import graft.obs.Obs

/** Measurement tool (optimization rounds): run ONE declared query with the
  * bench session config and print its Spark jobs, so "where do the
  * seconds go" is answerable without the UI (guide §1.1/§7.1).
  *
  * Usage: runMain graft.QueryProfile <sfDir> <name> [reps]
  * Each rep is one span; it prints one line per job (id, wall, tasks,
  * task CPU, shuffle write, spill, peak task memory, call site),
  * sorted by task CPU.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.build("graft-queryprofile")
    Session.sizeToInput(spark, Seq(sfDir))
    for (rep <- 1 to reps) {
      spark.catalog.clearCache()
      val (_, span) = Obs.measure(s"$name rep $rep") {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      System.err.println(f"== $name rep $rep: ${span.wallS}%.2f s, ${span.jobs.size} jobs ==")
      for (j <- span.jobs.sortBy(-_.cpuNs).take(25))
        System.err.println(
          f"  job ${j.id}%4d wall=${j.wallS}%6.2fs tasks=${j.tasks}%4d " +
            f"cpu=${j.cpuNs / 1e9}%7.2fs sw=${j.shuffleWriteBytes / 1e6}%7.1fMB " +
            f"spill=${(j.memSpillBytes + j.diskSpillBytes) / 1e6}%7.1fMB " +
            f"peak=${j.peakTaskMemBytes / 1e6}%7.1fMB ${j.name.takeWhile(_ != '\n').take(60)}")
      System.err.println(f"  total task cpu=${span.taskCpuS}%.1fs")
    }
    spark.stop()
  }
}
